"""Deterministic sampling / filtering operators for training-data mixing.

A 100 TB curation pipeline needs reproducible subset selection: the same
inputs + config must select the same rows on any cluster, any partition
layout, any retry — which rules out ``rand()`` and ``df.sample`` (both
partition-layout-dependent). Everything here keys decisions off the
PORTABLE md5 content hash (functions.text.portable_hash32), so:

* selection is a map-only scan-fused filter — no shuffle, no state, and
  Parquet row-group pruning still applies to other predicates;
* the DuckDB oracle reproduces the exact row set (hash-gated
  correctness, not rows-only);
* re-runs and late-arriving partitions select consistently (idempotent
  backfills).

The reference has no sampling surface (SURVEY §2.9); the nearest
relative is its deterministic Random(edge.id) capacity assignment
(ff1/Vertex.java:59-67) — the same determinism discipline applied to
row selection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pysparkflow.functions.text import portable_hash32

# hash-bucket granularity: rates are quantized to 1/10000
_BUCKETS = 10_000


def _bucket(id_col, seed: int):
    """Stable per-row bucket in [0, _BUCKETS): md5 word of "{id}:{seed}".
    ``id_col`` is a column name or a Column expression."""
    col = F.col(id_col) if isinstance(id_col, str) else id_col
    return F.pmod(
        portable_hash32(F.concat_ws(":", col.cast("string"), F.lit(str(seed)))),
        F.lit(_BUCKETS),
    )


def stratified_sample(
    df: DataFrame,
    rates: dict[str, float],
    strata_col: str = "lang",
    id_col: str = "doc_id",
    default_rate: float = 0.0,
    seed: int = 42,
) -> DataFrame:
    """Per-stratum deterministic sampling: keep a row of stratum ``s``
    iff its hash bucket < rates[s] * 10000 (strata absent from ``rates``
    use ``default_rate``). The training-mixture primitive: up/down-weight
    languages or sources with exact, reproducible row selection.

    Scale shape: the rates ship as a CASE literal (one map-only filter);
    no shuffle, no join, no driver state. Rates are quantized to 1/10000."""
    if not rates and not default_rate:
        raise ValueError("all rates are zero — empty sample")
    bucket = _bucket(id_col, seed)
    thr = F.lit(int(default_rate * _BUCKETS))
    for s, r in sorted(rates.items()):
        thr = F.when(F.col(strata_col) == s, F.lit(int(r * _BUCKETS))).otherwise(thr)
    return df.where(bucket < thr)


def temperature_mixture(
    docs: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    alpha: float = 0.5,
    target_frac: float = 0.5,
    seed: int = 7,
) -> DataFrame:
    """Temperature-flattened mixture sampling: draw ~``target_frac`` of
    the corpus with per-group allocation proportional to ``count^alpha``
    (alpha < 1 flattens the source distribution — the standard remedy for
    head-heavy web corpora, where uniform sampling lets a few giant
    domains dominate the training mixture). ``alpha=0.5`` is fixed to
    sqrt so the oracle replays the exact arithmetic.

    Determinism across engines: group weights are quantized to integers
    (``floor(sqrt(count) * 1e6)``) before the denominator sum, so the
    only floating-point is one fixed-shape expression per group —
    identical bit-for-bit in Spark and DuckDB; row selection then keys
    off the portable md5 hash exactly like ``stratified_sample``.

    Scale shape: one combiner-friendly count per group, two scalar
    aggregates collected to the driver (the reference's driver-side
    coordination discipline, SURVEY §3.3), and a broadcast of the
    group→threshold table (|groups| rows) back onto a map-only filter —
    the corpus itself never shuffles. Groups larger than their allocation
    are rate-limited; groups small enough to fit entirely are kept whole
    (rate capped at 1), matching temperature-sampling-with-ceiling.

    The returned plan reads a cached per-group count table, so the caller
    must call ``engine.cache.release_tracked()`` once the result is
    consumed; otherwise the cache stays in Spark's CacheManager."""
    if alpha != 0.5:
        raise ValueError("alpha is fixed at 0.5 (sqrt) for oracle-exact replay")
    from pysparkflow.engine.cache import track

    counts = docs.groupBy(group_col).agg(F.count("*").alias("_c"))
    counts = counts.withColumn(
        "_w", F.floor(F.sqrt(F.col("_c")) * F.lit(1e6)).cast("long")
    )
    # the per-group aggregation is consumed twice — scalars (eager, below)
    # and the threshold table in the returned plan. Untracked, the final
    # plan RE-AGGREGATES the whole input (a second full pass over the
    # corpus — or over the gated pipeline prefix in curation_pipeline_v3)
    # just to rebuild this |groups|-row table; the scalar collect
    # computes every partition, so it materializes the cache in the same
    # job (guide §1.2). coalesce(1) before the cache: groups are
    # low-cardinality by the mixture's contract, map-side partials stay
    # parallel, and a cached plan is NOT AQE-coalesced (canChangeCached
    # PlanOutputPartitioning defaults false) — without it the tiny table
    # materializes at the full session partition count. Released by the
    # caller via release_tracked.
    counts = track(counts.coalesce(1))
    scal = counts.select(
        F.sum("_c").alias("t"), F.sum("_w").alias("d")
    ).collect()[0]
    if scal["t"] is None:
        # empty input (everything gated out upstream): the mixture of
        # nothing is nothing — the empty aggregate yields NULL scalars,
        # which must not reach the rate arithmetic
        return docs
    target = int(scal["t"] * target_frac)
    rate = F.least(
        F.lit(1.0),
        (F.lit(float(target)) * F.col("_w").cast("double"))
        / (F.lit(float(scal["d"])) * F.col("_c").cast("double")),
    )
    thr = counts.select(
        group_col, F.floor(rate * F.lit(_BUCKETS)).cast("int").alias("_thr")
    )
    return (
        docs.join(F.broadcast(thr), group_col)
        .where(_bucket(id_col, seed) < F.col("_thr"))
        .drop("_thr")
    )


def epoch_shuffle(
    docs: DataFrame,
    n_shards: int = 8,
    epoch: int = 0,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic global shuffle for a training epoch: assign every
    document a shard and a position-within-shard that depend only on
    (id, epoch) — the training-data analogue of the reference's
    Random(edge.id) determinism (ff1/Vertex.java:59-67). The same corpus
    + epoch yields the same order on any cluster, any partition layout,
    any retry; changing ``epoch`` reshuffles globally.

    Scale shape: a true global sort (one total order over 100 TB) needs a
    range-partitioned sort — worthwhile never, because training readers
    consume per-shard files anyway. Instead the hash is the order:
    ``shard = h % n_shards`` is a map-only computation, and the
    within-shard order is a window keyed by shard — ONE shuffle, evenly
    balanced by construction (md5 buckets are uniform), no driver state.
    Each shard is then written/read independently.

    Returns (id_col, shard INT, pos BIGINT) with pos 1-based within
    shard, ordered by (hash, id) for tie-stability."""
    from pyspark.sql import Window

    h = portable_hash32(
        F.concat_ws(":", F.col(id_col).cast("string"), F.lit(str(epoch)))
    )
    w = Window.partitionBy("shard").orderBy("h", id_col)
    return (
        docs.select(id_col, h.alias("h"))
        .withColumn("shard", F.pmod(F.col("h"), F.lit(n_shards)).cast("int"))
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .select(id_col, "shard", "pos")
    )


def importance_sample(
    docs: DataFrame,
    weight_col: str = "n_chars",
    target_frac: float = 0.5,
    id_col: str = "doc_id",
    seed: int = 11,
) -> DataFrame:
    """Importance-weighted deterministic sampling: keep each row with
    probability proportional to its (integer) weight, scaled so the
    expected kept count is ``target_frac`` of the corpus — the per-ROW
    generalization of ``temperature_mixture``'s per-group allocation
    (up-weight long/high-quality documents instead of whole sources).

    All arithmetic is integer so the DuckDB oracle replays it exactly:
    the keep threshold is ``(target * BUCKETS * w) div sum_w`` (capped at
    BUCKETS), compared against the portable md5 hash bucket. Weights must
    be non-negative integers; rows with weight 0 are never kept.

    Scale shape: one combiner-friendly scalar aggregate (sum of weights +
    row count, collected to the driver — the reference's driver-side
    coordination discipline), then a map-only scan-fused filter; the
    corpus never shuffles. The int64 product ``target * BUCKETS * w``
    bounds corpus size: target ≤ 9e18 / (1e4 * max_w) — ~1e11 rows at
    max_w 1e4; beyond that, pre-divide the weights."""
    scal = docs.agg(
        F.sum(F.col(weight_col).cast("long")).alias("sw"),
        F.count("*").alias("n"),
    ).collect()[0]
    if not scal["sw"]:
        raise ValueError("all weights are zero — empty sample")
    target = int(scal["n"] * target_frac)
    thr = F.least(
        F.lit(_BUCKETS).cast("long"),
        F.expr(
            f"({target}L * {_BUCKETS}L * CAST({weight_col} AS BIGINT))"
            f" div {int(scal['sw'])}L"
        ),
    )
    return docs.where(_bucket(id_col, seed) < thr)


def token_budget_select(
    docs: DataFrame,
    budget_frac_pct: int = 60,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-source token-budget selection (the corpus analogue of top-p /
    nucleus selection): within each source, rank documents by quality
    (longest first, id ties ascending) and keep the best prefix whose
    cumulative token count stays within ``budget_frac_pct`` percent of
    the source's total tokens. Caps every source's contribution while
    keeping its best documents — unlike a rate sample, the cut adapts to
    each source's length distribution.

    The budget is an integer percentage and the comparison is pure
    integer (``100 * cum <= pct * total``), so the oracle replays it
    bit-for-bit.

    Returns (id, group, n_toks, cum_toks).

    Scale shape: one shuffle keyed by source; the running sum is a
    window over each source's partition. A pathologically huge single
    source serializes its own cumsum — the same two-level bucketed
    cumsum used by packing (llmops/packing.py) drops in if a source
    exceeds one partition's comfort; group cardinality here makes the
    plain window the right default."""
    from pyspark.sql import Window

    from pysparkflow.functions.text import token_count

    toks = docs.select(
        F.col(id_col).alias("id"),
        F.col(group_col).alias("group"),
        token_count(text_col).cast("long").alias("n_toks"),
    )
    w = Window.partitionBy("group").orderBy(
        F.col("n_toks").desc(), F.col("id").asc()
    )
    wt = Window.partitionBy("group")
    return (
        toks.withColumn("cum_toks", F.sum("n_toks").over(w))
        .withColumn("_tot", F.sum("n_toks").over(wt))
        .where(
            F.lit(100) * F.col("cum_toks") <= F.lit(budget_frac_pct) * F.col("_tot")
        )
        .drop("_tot")
    )


def quantile_quality_filter(
    docs: DataFrame,
    metric_col: str = "n_chars",
    group_col: str = "lang",
    q: float = 0.25,
) -> DataFrame:
    """Drop each group's bottom ``q`` quantile by ``metric_col`` (keep
    rows with metric >= the group's exact continuous percentile). The
    per-group threshold table is tiny (one row per language/source) and
    broadcast back — the corpus itself is never shuffled."""
    thr = docs.groupBy(group_col).agg(
        F.percentile(metric_col, F.lit(q)).alias("_thr")
    )
    return (
        docs.join(F.broadcast(thr), group_col)
        .where(F.col(metric_col) >= F.col("_thr"))
        .drop("_thr")
    )


def weighted_sample_wor(
    df: DataFrame,
    k: int,
    weight_col: str,
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis–Spirakis A-Res):
    each row draws u ~ U(0,1) from the portable hash of (id, seed) and
    the k rows with the largest u^(1/w) win — provably a weight-
    proportional sample without replacement.

    Ranking by ln(u)/w (monotone in u^(1/w), descending) keeps the
    arithmetic in one well-conditioned double op per row. Zero/negative
    weights are excluded (they cannot win a weighted draw).

    Scale shape: map-only key computation + a global top-k — Spark plans
    LIMIT-over-ORDER as per-partition top-k + a k-row reduce, so nothing
    resembling a full sort materializes. Deterministic: the same
    (ids, weights, seed) select the same rows on any cluster layout —
    and in the DuckDB oracle, which replays the identical hash and key.
    """
    h = portable_hash32(
        F.concat_ws(":", F.col(id_col).cast("string"), F.lit(str(seed)))
    )
    # u in (0, 1): (h + 1) / (2^32 + 1); ln(u) < 0, so bigger w pulls the
    # key toward 0 from below — rank descending
    u = (h + F.lit(1).cast("double")) / F.lit(float(2**32 + 1))
    key = F.log(u) / F.col(weight_col).cast("double")
    return (
        df.where(F.col(weight_col) > 0)
        .withColumn("ares_key", key)
        .orderBy(F.col("ares_key").desc(), F.col(id_col))
        .limit(k)
        .withColumn("ares_key", F.round("ares_key", 8))
    )


def nucleus_select(
    df: DataFrame,
    group_col: str,
    id_col: str,
    value_col: str,
    p_pct: int = 20,
) -> DataFrame:
    """Top-p (nucleus) selection over a VALUE mass: within each group,
    rank rows by value (descending, id ties ascending) and keep the
    smallest prefix holding at least ``p_pct`` percent of the group's
    total value — the distribution-truncation primitive (top-p token
    sampling's batch analogue; also "which SKUs carry 20% of revenue").
    ``token_budget_select`` is the token-count cousin; this one cuts on
    an arbitrary additive mass.

    Values are rounded to 2 decimals and summed as DECIMAL(18,2), so
    the cumulative sums and the boundary comparison are EXACT — no
    float fold-order drift between engines. The kept prefix is every
    row whose cumulative mass BEFORE it is below the target (so the
    crossing row is included). Two window passes over one group-keyed
    exchange. Returns (group, id, value, cum_value)."""
    from pyspark.sql import Window

    v = F.round(F.col(value_col), 2).cast("decimal(18,2)")
    base = df.select(
        F.col(group_col).alias("group"),
        F.col(id_col).alias("id"),
        v.alias("value"),
    )
    w = Window.partitionBy("group").orderBy(
        F.col("value").desc(), F.col("id").asc()
    )
    wt = Window.partitionBy("group")
    return (
        base.withColumn("cum_value", F.sum("value").over(w))
        .withColumn("_tot", F.sum("value").over(wt))
        .where(
            (F.col("cum_value") - F.col("value")) * 100
            < F.col("_tot") * F.lit(p_pct)
        )
        .drop("_tot")
    )


def cluster_split(
    docs: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
    cluster_doc_col: str = "doc_id",
    keep_col: str = "keep_id",
    train_pct: int = 80,
    val_pct: int = 10,
    seed: int = 7,
) -> DataFrame:
    """Leakage-safe train/val/test split: assign each document by the
    hash of its DEDUP-CLUSTER SURVIVOR id, not its own id — so two
    near-duplicate documents can never land in different splits (the
    classic eval-contamination leak: a test document whose near-copy sits
    in train). ``clusters`` is a resolution mapping (doc_id, keep_id)
    from ``dedup.dedup_resolution`` — the OUTPUT of dedup, orders of
    magnitude smaller than the corpus, so it broadcasts; unclustered
    documents (absent from the mapping) key off their own id, which
    keeps this a superset-compatible extension of ``hash_split`` (same
    bucketing, same rates — identical assignment wherever no near-dup
    exists). One broadcast hash join + a map — no corpus shuffle.

    Returns one row per document: (id, split_key, split)."""
    m = clusters.select(
        F.col(cluster_doc_col).alias("_cs_doc"), F.col(keep_col).alias("_cs_keep")
    )
    key = F.coalesce(F.col("_cs_keep"), F.col(id_col))
    b = _bucket(key, seed)
    return (
        docs.join(F.broadcast(m), docs[id_col] == F.col("_cs_doc"), "left")
        .select(
            F.col(id_col).alias("id"),
            key.alias("split_key"),
            F.when(b < _BUCKETS * train_pct // 100, F.lit("train"))
            .when(b < _BUCKETS * (train_pct + val_pct) // 100, F.lit("val"))
            .otherwise(F.lit("test"))
            .alias("split"),
        )
    )


def hash_split(
    docs: DataFrame,
    id_col: str = "doc_id",
    train_pct: int = 80,
    val_pct: int = 10,
    seed: int = 7,
) -> DataFrame:
    """Deterministic train/val/test assignment by content hash of the id
    — the split every training pipeline needs to be REPRODUCIBLE and
    JOIN-FREE: any worker, any engine, any day assigns a document to the
    same split from its id alone (no membership table to ship). Buckets
    come from the portable md5 hash quantized to 1/10000, so the DuckDB
    oracle replays assignments exactly and rates are honest to 0.01%.
    Returns one row per document: (id, split)."""
    b = _bucket(id_col, seed)
    return docs.select(
        F.col(id_col).alias("id"),
        F.when(b < _BUCKETS * train_pct // 100, F.lit("train"))
        .when(b < _BUCKETS * (train_pct + val_pct) // 100, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )

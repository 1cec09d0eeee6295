"""Document deduplication operators for training-data pipelines.

Four strategies, from cheapest to most tolerant:

* exact:     hash-groupBy on content — one shuffle of (hash, id) pairs;
* n-gram Jaccard: shingle-explode + shingle equi-join + group count — the
             candidate join only materializes pairs that share a shingle;
* MinHash+LSH: per-doc signature (k seeded affine permutations of an
             md5-derived shingle hash), banded into buckets; only
             bucket-colliding pairs are verified with exact Jaccard — the
             100 TB scale path (pair generation is linear in bucket
             occupancy, never all-pairs);
* SimHash:   64-bit fingerprint; near-dups collide on rotated prefix bands.

All hashing is deterministically seeded (the ff1 discipline,
ff1/Vertex.java:60) so task retries are safe and runs reproduce — and it
is md5-derived (functions.text.portable_hash32) rather than engine-
internal xxhash64, so the driver's DuckDB oracle recomputes the exact
same signatures and these operators get the full hash-match check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pysparkflow.engine.cache import track
from pysparkflow.functions.text import shingles

# below this pair count, dedup resolution closes the pair graph with a
# driver-side union-find instead of distributed label propagation (the
# size-gated driver/distributed split used throughout — e.g. max-flow's
# repair path). 200k pairs ~ a few MB collected.
DRIVER_UNION_FIND_LIMIT = 200_000


def exact_duplicates(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact-content duplicate groups: (text_hash, n_docs, keep_id) for
    groups with more than one document; keep_id is the minimum id (the
    canonical survivor)."""
    return (
        df.select(
            F.md5(F.col(text_col).cast("binary")).alias("text_hash"),
            F.col(id_col).alias("id"),
        )
        .groupBy("text_hash")
        .agg(F.count("*").alias("n_docs"), F.min("id").alias("keep_id"))
        .where(F.col("n_docs") > 1)
    )


def _shingle_pairs_hashed(
    df: DataFrame, id_col: str, text_col: str, n: int, keep: tuple[str, ...] = ()
) -> DataFrame:
    """(id, sh, h): the per-doc DISTINCT shingle inverted index with the
    shingle's ``portable_hash32 mod p`` value — distinct BY CONSTRUCTION
    (``array_distinct`` runs inside the per-doc array, before the
    explode), so unlike an exploded ``.distinct()`` no corpus-wide
    |docs| x |shingles| DISTINCT shuffle ever happens: the whole thing is
    one map-only pass. The shingle array is built exactly once per doc
    (the generator's input expression), every exploded row's md5 runs
    inside WholeStageCodegen, and downstream consumers (signature agg,
    candidate-pruned verify) read these narrow rows.

    Two prior shapes both lost at the measured workload: the exploded
    ``.distinct()`` form shuffled the full inverted index (the real
    100 TB hazard), and a per-doc ARRAY form (sh_arr + h_arr columns,
    signatures via array_min(transform(...))) avoided all shuffles but
    paid k interpreted higher-order-function traversals per doc — HOF
    lambdas never enter codegen — measuring 2.2x slower end-to-end at
    sf0.1 (BENCH_r06 postmortem, VERDICT r6 #1). This form keeps the
    map-side dedup and the codegen path."""
    from pysparkflow.functions.text import portable_hash32

    sh_arr = F.array_distinct(shingles(text_col, n))
    extra = [F.col(c) for c in keep]
    return (
        df.select(F.col(id_col).alias("id"), *extra, F.explode(sh_arr).alias("sh"))
        .select(
            "id",
            *extra,
            "sh",
            F.pmod(portable_hash32("sh"), F.lit(_MH_PRIME)).alias("h"),
        )
    )


def _minhash_sig_from_hashed(hashed: DataFrame, num_hashes: int, seed: int) -> DataFrame:
    """MinHash signatures (id, m0..m{k-1}) from (id, sh, h) rows.

    One-hash + k affine permutations: each shingle hashes once
    (``portable_hash32`` -> [0, p), md5-derived so the DuckDB oracle
    recomputes it exactly), then hash i is min over shingles of
    (a_i*h + b_i) mod p — ONE hash-aggregate with k cheap integer
    min()s. Partial aggregation (map-side combine) collapses the shuffle
    to one k+1-value row per doc per map partition, and the k mins run
    codegen'd. a_i*h < p^2 stays inside int64 (ANSI-safe)."""
    a, b = _affine_params(num_hashes, seed)
    aggs = [
        F.min(F.pmod(F.col("h") * F.lit(a[i]) + F.lit(b[i]), F.lit(_MH_PRIME))).alias(
            f"m{i}"
        )
        for i in range(num_hashes)
    ]
    return hashed.groupBy("id").agg(*aggs)


def _minhash_sig_from_hashed_keyed(
    hashed: DataFrame, num_hashes: int, seed: int, *extra_keys: str
) -> DataFrame:
    """``_minhash_sig_from_hashed`` with passthrough group keys (columns
    functionally determined by ``id``, e.g. a side tag whose ids are
    disjoint): identical per-id signatures, one aggregation pass."""
    a, b = _affine_params(num_hashes, seed)
    aggs = [
        F.min(F.pmod(F.col("h") * F.lit(a[i]) + F.lit(b[i]), F.lit(_MH_PRIME))).alias(
            f"m{i}"
        )
        for i in range(num_hashes)
    ]
    return hashed.groupBy("id", *extra_keys).agg(*aggs)


def _jaccard_verify(
    sh: DataFrame,
    threshold: float,
    cands: DataFrame | None = None,
    n_cands: int | None = None,
) -> DataFrame:
    """Exact shingle Jaccard over pairs from the inverted index ``sh``
    (id, sh). With ``cands`` (id_a, id_b), only those pairs are scored
    (the LSH verify path); without, every pair sharing >= 1 shingle is
    (the full inverted-index self-join). Returns (id_a, id_b, jaccard)
    with id_a < id_b, jaccard >= threshold.

    ``n_cands`` is the caller-known row count of ``cands`` (the LSH
    callers materialize and count it anyway). When the candidate set is
    small (guide §3.1: checkpointed/persisted intermediates have no size
    statistics, so Catalyst never broadcasts them on its own), the
    cands-side and sizes-side joins ship as explicit broadcasts — the
    inverted index is probed in place instead of being exchanged for a
    sort-merge join. Results are identical either way."""
    from pysparkflow.engine.partitioning import STATE_BROADCAST_ROWS

    small = n_cands is not None and 2 * n_cands <= STATE_BROADCAST_ROWS
    sizes = sh.groupBy("id").agg(F.count("*").alias("n_sh"))
    a = sh.select(F.col("id").alias("id_a"), "sh")
    b = sh.select(F.col("id").alias("id_b"), "sh")
    if cands is None:
        common = (
            a.join(b, "sh")
            .where(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("n_common"))
        )
    else:
        cside = F.broadcast(cands) if small else cands
        common = (
            cside.join(a, "id_a")
            .join(b, ["id_b", "sh"])
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("n_common"))
        )
    sz_a = sizes.withColumnsRenamed({"id": "id_a", "n_sh": "n_a"})
    sz_b = sizes.withColumnsRenamed({"id": "id_b", "n_sh": "n_b"})
    if small:
        # sizes is bounded by the candidate-id count (the callers' sh is
        # candidate-pruned); broadcast it rather than exchanging common
        sz_a, sz_b = F.broadcast(sz_a), F.broadcast(sz_b)
    return (
        common.join(sz_a, "id_a")
        .join(sz_b, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def _pruned_index(
    sh: DataFrame, cands: DataFrame, n_cands: int, extra_cols: tuple[str, ...] = ()
) -> DataFrame:
    """The inverted index restricted to docs that appear in a candidate
    pair, MATERIALIZED once. ``_jaccard_verify`` reads the pruned index
    from four places (a-side, b-side, and the two sizes joins); left as a
    lazy semi-join the whole prune re-executes per consumer — and because
    persisted/checkpointed inputs carry no size statistics, each rerun
    plans as a full sort-merge exchange of the index (observed: 8 x
    ``SortMergeJoin LeftSemi`` in the r13 incremental_near_dup plan, the
    dominant shuffle). Candidate-id sets up to the broadcast gate ship as
    an explicit broadcast, so the prune is one map-only probe of the
    cached index; bigger sets fall back to the shuffled semi-join."""
    from pysparkflow.engine.partitioning import STATE_BROADCAST_ROWS

    cand_ids = (
        cands.select(F.col("id_a").alias("id"))
        .unionByName(cands.select(F.col("id_b").alias("id")))
        .distinct()
    )
    if 2 * n_cands <= STATE_BROADCAST_ROWS:
        cand_ids = F.broadcast(cand_ids)
    return track(
        sh.join(cand_ids, "id", "semi").select("id", *extra_cols, "sh")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 4,
    threshold: float = 0.8,
) -> DataFrame:
    """Near-duplicate pairs by word n-gram Jaccard similarity.

    Candidate pairs come from the shingle inverted index self-join (only
    docs sharing >= 1 shingle meet), then J = |A∩B| / (|A|+|B|-|A∩B|).
    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold."""
    # per-doc distinct happens map-side (array_distinct before the
    # explode) — no corpus-wide DISTINCT shuffle
    sh = track(_shingle_pairs_hashed(df, id_col, text_col, n).select("id", "sh"))
    return _jaccard_verify(sh, threshold)


# 2^31 - 1, prime — modulus for the affine MinHash permutation family
_MH_PRIME = (1 << 31) - 1


def _affine_params(num_hashes: int, seed: int) -> tuple[list[int], list[int]]:
    import numpy as np

    rng = np.random.default_rng(seed)
    a = rng.integers(1, _MH_PRIME, num_hashes).tolist()
    b = rng.integers(0, _MH_PRIME, num_hashes).tolist()
    return a, b


def _minhash_band_rows(sig: DataFrame, bands: int, r: int) -> DataFrame:
    """(id, band, bucket) rows from a signature table: bucket is the
    comma-joined run of the band's r minhashes — the only join key that
    ever shuffles in the LSH paths, reproduced verbatim by the oracle."""
    return sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(band).alias("band"),
                        F.concat_ws(
                            ",", *[F.col(f"m{band * r + j}") for j in range(r)]
                        ).alias("bucket"),
                    )
                    for band in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.5,
    seed: int = 42,
) -> DataFrame:
    """MinHash + LSH near-duplicate detection, then exact-Jaccard verify.

    shingle → minhash → band → bucket-join: docs whose signature agrees on
    all rows of any band land in the same bucket and become candidates;
    candidates are verified with the true shingle Jaccard. With b bands of
    r = num_hashes/b rows, the match curve is P(candidate) = 1-(1-J^r)^b.
    Returns (id_a, id_b, jaccard) with jaccard >= threshold.

    Scale: signatures are one narrow row per doc; bucket ids are
    (band, concat-of-band-minhashes) — the only join key that ever
    shuffles, and a key the ANSI oracle reproduces verbatim.
    Verification touches only bucket-colliding pairs."""
    assert num_hashes % bands == 0, "bands must divide num_hashes"
    r = num_hashes // bands
    # shingle + hash ONCE (map-only, per-doc distinct — no corpus-wide
    # DISTINCT shuffle); the cached narrow rows feed both the signature
    # aggregate and the candidate-pruned verify, so text is shingled and
    # md5'd exactly once per run
    hashed = track(_shingle_pairs_hashed(df, id_col, text_col, shingle_n))
    sig = _minhash_sig_from_hashed(hashed, num_hashes, seed)
    # materialize the banded index once so the bucket self-join (and the
    # verify below) reads it instead of recomputing the signature agg per
    # branch — at scale this table IS the stored LSH index
    banded = track(_minhash_band_rows(sig, bands, r))
    left = banded.select(F.col("id").alias("id_a"), "band", "bucket")
    right = banded.select(F.col("id").alias("id_b"), "band", "bucket")
    cands = track(
        left.join(right, ["band", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    # the count both materializes the tracked candidate set (one compute,
    # every consumer below reads the cache) and gates the broadcasts in
    # the pruned verify
    n_cands = cands.count()
    sh = _pruned_index(hashed, cands, n_cands)
    return _jaccard_verify(sh, threshold, cands=cands, n_cands=n_cands)


def simhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 64
) -> DataFrame:
    """64-bit SimHash fingerprints, fully JVM-side.

    Each token hashes to 64 bits (two independent md5 words — the
    oracle-reproducible ``portable_hash32``, so the DuckDB driver oracle
    recomputes the identical fingerprint); bit b of the fingerprint is 1
    iff the majority of token-hashes have bit b set. Near-duplicate docs
    differ in few bits (compare with ``bit_count(simhash_a ^ simhash_b)``)."""
    # explode tokens once, hash once, then a single hash-aggregate with 64
    # cheap bit-count sums (map-side partial combine). 4x faster than
    # nested higher-order-function aggregates over the token array, and the
    # shuffle moves only (id, hash) pairs.
    from pysparkflow.functions.text import portable_hash32

    assert bits == 64, "portable SimHash is fixed at 64 bits (2 md5 words)"
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("t"),
    )
    hashed = toks.select(
        "id",
        portable_hash32("t", word=0).alias("h0"),
        portable_hash32("t", word=1).alias("h1"),
    )
    aggs = [
        F.sum(
            F.shiftrightunsigned("h0" if b < 32 else "h1", b % 32).bitwiseAND(
                F.lit(1)
            )
        ).alias(f"c{b}")
        for b in range(bits)
    ]
    counts = hashed.groupBy("id").agg(F.count("*").alias("n"), *aggs)
    sig = None
    for b in range(bits):
        term = F.when(
            F.col(f"c{b}") * 2 >= F.col("n"),
            F.lit(2 ** b if b < 63 else -(2 ** 63)).cast("long"),
        ).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return counts.select("id", sig.alias("simhash"))


def dedup_resolution(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    n_pairs: int | None = None,
) -> DataFrame:
    """Resolve near-duplicate PAIRS into clusters and elect a canonical
    survivor per cluster: (doc_id, keep_id) where keep_id is the minimum
    doc id in the doc's connected component of the pair graph.

    Near-dup similarity is not transitive — A~B and B~C does not imply
    A~C — but dedup policy treats the transitive closure as one identity
    cluster (keep one representative per chain). This is the standard
    resolution step after any pair generator (MinHash-LSH, SimHash,
    embedding near-dups): label propagation over the pair graph
    (algo/components — min-id convergence, O(diameter) rounds), with
    chain diameters in practice tiny (duplicate families, not social
    graphs). Rows not in any pair are absent — they keep themselves.

    ``n_pairs``: pass the pair count when already known (a memoized pair
    table was counted on materialization) — skips the arc-sizing count
    job inside connected_components, and when the pair set is small
    enough (<= ``DRIVER_UNION_FIND_LIMIT``) switches to a driver-side
    union-find: the pair graph is the OUTPUT of dedup, orders of
    magnitude smaller than the corpus, and a known-tiny closure is
    cheaper as one collect + one createDataFrame than as O(log diameter)
    distributed join rounds (the same size-gated driver/distributed
    split as max-flow's repair path, algo/maxflow.py). Above the limit —
    or when the count is unknown — the distributed label-propagation
    path runs unchanged, so a 100 TB corpus whose pair table is large
    never collects."""
    from pysparkflow.algo.components import connected_components
    from pysparkflow.graph.graph import FlowGraph

    if n_pairs is not None and n_pairs <= DRIVER_UNION_FIND_LIMIT:
        # a null id cannot participate in a cluster: drop it BEFORE the
        # collect so None never reaches the `ra < rb` ordering (ADVICE
        # r7) — the distributed path filters null endpoints identically,
        # so behavior agrees across the n_pairs gate
        rows = (
            pairs.where(F.col(id_a).isNotNull() & F.col(id_b).isNotNull())
            .select(F.col(id_a).cast("long"), F.col(id_b).cast("long"))
            .collect()
        )
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]  # path halving
                x = parent[x]
            return x

        for a, b in rows:
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by min id keeps the invariant root = component min
                if ra < rb:
                    parent[rb] = ra
                else:
                    parent[ra] = rb
        out = [(v, find(v)) for v in parent]
        return pairs.sparkSession.createDataFrame(
            out, "doc_id long, keep_id long"
        ).repartition(1)

    edge_pairs = pairs.where(
        F.col(id_a).isNotNull() & F.col(id_b).isNotNull()
    ).select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    g = FlowGraph.from_edge_pairs(pairs.sparkSession, edge_pairs)
    cc = connected_components(
        g, rows_hint=2 * n_pairs if n_pairs is not None else None
    )
    return cc.select(F.col("vertex").alias("doc_id"), F.col("component").alias("keep_id"))


def incremental_exact_flags(
    new_docs: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Incremental ingest dedup: flag arriving documents whose exact text
    (md5) already exists in the standing corpus. (id, known_dup) — filter
    ``~known_dup`` for the admit set.

    Scale shape: the corpus side reduces to DISTINCT content hashes (in a
    real deployment these are the stored fingerprints, not a re-scan);
    the join is hash-equi on the digest. The arriving batch is normally
    orders of magnitude smaller than the corpus — Catalyst broadcasts
    whichever side is small, and either way no text ever shuffles, only
    32-byte digests."""
    known = corpus.select(F.md5(F.col(text_col)).alias("h")).distinct()
    return (
        new_docs.select(F.col(id_col).alias("id"), F.md5(F.col(text_col)).alias("h"))
        .join(known.withColumn("known_dup", F.lit(True)), "h", "left")
        .select("id", F.coalesce("known_dup", F.lit(False)).alias("known_dup"))
    )


def incremental_minhash_flags(
    new_docs: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.5,
    seed: int = 42,
) -> DataFrame:
    """Incremental NEAR-dup ingest check: for each arriving document, its
    best match in the standing corpus by exact shingle Jaccard, with
    candidates from a bipartite MinHash band-bucket join — the
    approximate counterpart of ``incremental_exact_flags`` for the
    copy-with-edits case an md5 equality check misses. Ids of the two
    sides must be disjoint. Returns (id, match_id, jaccard): one row per
    arriving doc that has a corpus match at or above ``threshold``
    (max jaccard, ties to the smallest match_id); clean docs are absent.

    Scale shape: in deployment the corpus side's signatures are the
    STORED index (computed once at admit time, num_hashes ints per doc),
    so an arriving batch costs its own shingling plus a bucket equi-join
    against the index — never a rescan of the corpus text. Here both
    sides are derived from scratch for the oracle's benefit; the plan is
    identical from the bucket join onward."""
    assert num_hashes % bands == 0, "bands must divide num_hashes"
    r = num_hashes // bands
    # ONE shingling pass over both sides (the ids are disjoint by
    # contract, so a side tag rides along and the union costs nothing):
    # the previous two per-side passes each scanned the full source and
    # persisted a separate index — one scan, one cache, one signature
    # aggregation instead of two of each (guide §1.2: fewer passes)
    tagged = new_docs.select(
        F.col(id_col).alias(id_col), F.col(text_col).alias(text_col),
        F.lit(True).alias("is_new"),
    ).unionByName(
        corpus.select(
            F.col(id_col).alias(id_col), F.col(text_col).alias(text_col),
            F.lit(False).alias("is_new"),
        )
    )
    sh_all = track(
        _shingle_pairs_hashed(tagged, id_col, text_col, shingle_n, keep=("is_new",))
    )
    # ids are disjoint across sides, so grouping by (id, is_new) is the
    # same per-side grouping the two separate aggregations computed
    sig_all = _minhash_sig_from_hashed_keyed(sh_all, num_hashes, seed, "is_new")
    b_new = _minhash_band_rows(sig_all.where(F.col("is_new")).drop("is_new"), bands, r)
    b_old = _minhash_band_rows(sig_all.where(~F.col("is_new")).drop("is_new"), bands, r)
    # cands feeds both the id pruning and the final verify join; without
    # materializing it the whole bipartite band join would run twice
    cands = track(
        b_new.select(F.col("id").alias("id_a"), "band", "bucket")
        .join(b_old.select(F.col("id").alias("id_b"), "band", "bucket"),
              ["band", "bucket"])
        .select("id_a", "id_b")
        .distinct()
    )
    # explode the inverted index only for docs inside a candidate pair —
    # materialized once and broadcast-gated (see _pruned_index)
    n_cands = cands.count()
    sh = _pruned_index(sh_all, cands, n_cands)
    scored = _jaccard_verify(sh, threshold, cands=cands, n_cands=n_cands)
    from pyspark.sql.window import Window

    w = Window.partitionBy("id_a").orderBy(
        F.col("jaccard").desc(), F.col("id_b").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            F.col("id_a").alias("id"),
            F.col("id_b").alias("match_id"),
            "jaccard",
        )
    )


def simhash_near_dups(
    df: DataFrame,
    max_hamming: int = 7,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """SimHash near-duplicate pairs: documents whose 64-bit fingerprints
    differ in at most ``max_hamming`` bits — the pairing operator on top
    of ``simhash_signatures`` (which alone only emits fingerprints).

    Candidates come from 8 byte-bands of the signature: two signatures
    within hamming distance d share at least ``8 - d`` untouched bytes,
    so for ``max_hamming < 8`` the band join is COMPLETE by pigeonhole —
    this is exact near-dup search, not approximate, with precision
    guaranteed by the bit_count verify. Returns (id_a, id_b, hamming)
    with id_a < id_b.

    Scale shape: the corpus collapses to one 64-bit signature per doc
    first; banding explodes that 8x (tiny rows), the candidate join is a
    bucket equi-join (never all-pairs — random 64-bit signatures
    collide on a byte at rate 1/256), and the verify is one integer xor
    per candidate. The byte-band trick is the Hamming-space analogue of
    the MinHash banding used by ``minhash_lsh_pairs``."""
    assert 0 <= max_hamming < 8, "byte-banding is complete only for hamming < 8"
    sig = simhash_signatures(df, id_col=id_col, text_col=text_col)
    bands = sig.select(
        "id",
        "simhash",
        F.explode(
            F.array(*[F.lit(b).cast("int") for b in range(8)])
        ).alias("band"),
    ).select(
        "id",
        "simhash",
        "band",
        F.expr("shiftrightunsigned(simhash, band * 8) & 255").alias("code"),
    )
    a = bands.select(
        F.col("id").alias("id_a"), F.col("simhash").alias("sig_a"), "band", "code"
    )
    b = bands.select(
        F.col("id").alias("id_b"), F.col("simhash").alias("sig_b"), "band", "code"
    )
    return (
        a.join(b, ["band", "code"])
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def span_dedup(
    df: DataFrame,
    chunk_words: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Span-level exact dedup (the chunked approximation of
    exact-substring dedup): split each document into consecutive
    ``chunk_words``-word spans, drop every span whose exact text already
    occurred earlier in the corpus (first occurrence in (doc_id, span
    index) order survives), and reassemble the surviving spans.

    Doc-level dedup misses boilerplate repeated INSIDE otherwise-distinct
    documents (headers, license blocks, templated paragraphs); span-level
    removal rewrites the text instead of dropping the document.

    Returns (id, text_clean, n_spans, n_dropped).

    Scale shape: one corpus-sized shuffle keyed by the span's md5 (the
    first-occurrence window — span text rides along so no second
    derivation of the split), then one shuffle keyed by doc id to
    reassemble. Both aggregations are combiner-friendly; no all-pairs
    stage exists anywhere. The window partition is a single span hash —
    skew equals the duplication count of one span, which is exactly the
    data this operator removes."""
    from pyspark.sql.window import Window

    # the words array is projected ONCE below the span generator: with
    # the split inlined in the lambda, the interpreted higher-order
    # transform re-evaluated split(trim(text)) per SPAN INDEX —
    # O(words^2 / chunk) re-tokenization per document (the same
    # interpreted-lambda trap as the similarity normalize, r13 opt;
    # CollapseProject keeps the projection separate because the alias
    # is referenced more than once and split is non-cheap)
    words = F.col("_ws")
    n_spans = F.ceil(F.size(words) / F.lit(chunk_words)).cast("int")
    spans = df.select(
        F.col(id_col).alias("id"),
        F.split(F.trim(F.col(text_col)), r"\s+").alias("_ws"),
    ).select(
        "id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_spans - 1),
                lambda i: F.array_join(
                    F.slice(words, i * chunk_words + 1, chunk_words), " "
                ),
            )
        ).alias("idx", "span"),
    )
    w = Window.partitionBy(F.md5(F.col("span"))).orderBy("id", "idx")
    flagged = spans.withColumn("rn", F.row_number().over(w))
    return (
        flagged.groupBy("id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("rn") == 1, F.struct("idx", "span"))
                        )
                    ),
                    lambda s: s["span"],
                ),
                " ",
            ).alias("text_clean"),
            F.count("*").alias("n_spans"),
            F.sum(F.when(F.col("rn") > 1, 1).otherwise(0)).alias("n_dropped"),
        )
        .select(
            "id",
            "text_clean",
            F.col("n_spans").cast("long").alias("n_spans"),
            F.col("n_dropped").cast("long").alias("n_dropped"),
        )
    )


def select_cluster_representatives(
    clusters: DataFrame,
    scored: DataFrame,
    cluster_col: str = "keep_id",
    doc_col: str = "doc_id",
    score_id_col: str = "id",
    score_col: str = "q_score",
) -> DataFrame:
    """Quality-aware survivor election: given near-dup ``clusters``
    (doc_id, keep_id — e.g. :func:`dedup_resolution` output) and a
    ``scored`` table (id, score — e.g. llmops.quality_model scores),
    pick each cluster's representative as the member with the HIGHEST
    score (ties broken by minimum doc id, so the election is total and
    deterministic).

    dedup_resolution's min-id canonical answers "which cluster"; this
    answers "which member to keep" — real curation keeps the best-
    quality copy of a duplicated document, not the one with the
    smallest id (boilerplate mirrors often have cleaner markup on one
    host). Returns one row per clustered doc:
    (doc_id, best_id, score, best_score) — a doc survives iff
    doc_id == best_id, and the mapping doc -> best_id is the rewrite
    table for reference fix-up downstream.

    Scale shape: the cluster table is pair-graph-sized (≪ corpus), the
    score join is key-equi on doc id, and the election is one window
    partitioned by cluster — nothing here touches corpus text.
    """
    j = clusters.join(
        scored.select(
            F.col(score_id_col).alias(doc_col), F.col(score_col).alias("_s")
        ),
        doc_col,
        "left",
    )
    # left join + nulls-LAST ordering: a clustered doc missing from the
    # score table (scores computed on a filtered snapshot) still gets a
    # row — with a null score — and can never win the election over a
    # scored member. An inner join here would silently drop it from the
    # rewrite mapping, orphaning downstream reference fix-up.
    w = Window.partitionBy(cluster_col).orderBy(
        F.col("_s").desc_nulls_last(), F.col(doc_col).asc()
    )
    best = (
        j.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(
            cluster_col,
            F.col(doc_col).alias("best_id"),
            F.col("_s").alias("best_score"),
        )
    )
    return j.join(best, cluster_col).select(
        doc_col,
        "best_id",
        F.col("_s").alias("score"),
        "best_score",
    )


def cluster_stats(
    clusters: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    source_col: str = "source",
    broadcast: bool = True,
) -> DataFrame:
    """Duplication-cluster composition audit: (cluster_size, n_clusters,
    n_cross_source, n_docs) — for each near-dup cluster size, how many
    clusters exist, how many of them span MORE THAN ONE source, and how
    many documents they hold in total.

    The dataset-card companion to dedup_resolution: cluster sizes tell
    you whether duplication is pairwise noise or mass replication, and
    the cross-source count splits "a source repeats itself" (dedup
    within the source and move on) from "two sources ship the same
    content" (candidates for dropping a source entirely — the decision
    source_overlap's Jaccard matrix triages at set level, audited here
    at resolved-cluster level).

    ``clusters`` is dedup_resolution's (doc_id, keep_id) output — the
    pair-graph closure, orders of magnitude smaller than the corpus —
    so by default it is BROADCAST onto the documents projection to pick
    up the source column; the per-cluster and per-size aggregates then
    run on cluster-table-sized inputs. Zero corpus-sized exchanges: the
    corpus side is a two-column scan probed by a broadcast hash join.

    ``broadcast`` gates that hint (ADVICE r10): under mass duplication
    the resolved-cluster table approaches corpus scale and a forced
    broadcast would OOM the executors instead of degrading — pass
    ``False`` (e.g. when the caller knows dup_rate is high or the pair
    graph exceeded the size-gated driver union-find and went through
    distributed CC) to fall back to a shuffle hash join on doc_id."""
    c = clusters.select("doc_id", "keep_id")
    labeled = docs.select(
        F.col(id_col).alias("doc_id"), F.col(source_col).alias("source")
    ).join(F.broadcast(c) if broadcast else c, "doc_id")
    per_cluster = labeled.groupBy("keep_id").agg(
        F.count("*").alias("sz"),
        F.countDistinct("source").alias("n_sources"),
    )
    return (
        per_cluster.groupBy(F.col("sz").alias("cluster_size"))
        .agg(
            F.count("*").alias("n_clusters"),
            F.sum((F.col("n_sources") > 1).cast("long")).alias(
                "n_cross_source"
            ),
            F.sum("sz").alias("n_docs"),
        )
        .orderBy("cluster_size")
    )

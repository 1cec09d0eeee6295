"""Round-9 tests: the mixture_report composition audit (VERDICT r8 #4),
the decode_fn injection seam exercised end-to-end (VERDICT r8 #5), and
regression pins for the ADVICE r8 fixes (stateful up-front validation,
multimodal explicit raises, the approx_topk tolerance guard, the
keep-best oracle's partial-score-table semantics)."""

from __future__ import annotations

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from pysparkflow.llmops.dedup import select_cluster_representatives
from pysparkflow.llmops.multimodal import (
    FEATURE_DIM,
    _stats_frame,
    extract_features,
    synth_wav,
)
from pysparkflow.llmops.report import mixture_report
from pysparkflow.streaming.stateful import running_event_counts

# ------------------------------------------------------------ mixture_report


def test_mixture_report_planted_composition(spark):
    """Hand-built corpus with a known per-source answer: 'a' has 4 docs
    (3 kept, one of them a dedup loser), 'b' has 2 docs (1 kept, a
    survivor singleton)."""
    docs = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "a"), (4, "a"), (5, "b"), (6, "b")],
        "doc_id long, source string",
    )
    scored = spark.createDataFrame(
        [
            (1, 10, 0.9, True),
            (2, 20, 0.8, True),
            (3, 30, 0.6, True),
            (4, 40, 0.2, False),
            (5, 50, 0.7, True),
            (6, 60, 0.1, False),
        ],
        "id long, n_tokens int, q_score double, keep boolean",
    )
    # docs 2+3 near-dup cluster, 2 wins (higher score)
    survivors = spark.createDataFrame(
        [(2, 2), (3, 2)], "doc_id long, best_id long"
    )
    out = {
        r["source"]: r.asDict()
        for r in mixture_report(docs, scored, survivors).collect()
    }
    a, b = out["a"], out["b"]
    assert (a["n_total"], a["n_kept"]) == (4, 3)
    assert a["gate_rate"] == 0.75
    assert a["total_tokens"] == 60
    # kept scores for a: [0.9, 0.8, 0.6] -> p*(N-1) interpolation
    assert (a["q_p25"], a["q_p50"], a["q_p75"]) == (0.7, 0.8, 0.85)
    # kept docs of a: 1 (unclustered), 2 (winner), 3 (loser) -> 2/3
    assert a["survivor_rate"] == round(2 / 3, 4)
    assert (b["n_total"], b["n_kept"]) == (2, 1)
    assert b["total_tokens"] == 50
    assert (b["q_p25"], b["q_p50"], b["q_p75"]) == (0.7, 0.7, 0.7)
    assert b["survivor_rate"] == 1.0


def test_mixture_report_unscored_docs_count_as_gated_out(spark):
    """Partial score table: an unscored doc stays in n_total and drags
    gate_rate down — it must never silently vanish from the report."""
    docs = spark.createDataFrame(
        [(1, "a"), (2, "a")], "doc_id long, source string"
    )
    scored = spark.createDataFrame(
        [(1, 10, 0.9, True)],
        "id long, n_tokens int, q_score double, keep boolean",
    )
    survivors = spark.createDataFrame([], "doc_id long, best_id long")
    (r,) = mixture_report(docs, scored, survivors).collect()
    assert (r["n_total"], r["n_kept"], r["gate_rate"]) == (2, 1, 0.5)
    assert r["total_tokens"] == 10


def test_mixture_report_source_with_nothing_kept(spark):
    """A fully-gated-out source still reports: zero tokens, null
    quantiles/survivor_rate (no kept docs to aggregate over)."""
    docs = spark.createDataFrame([(1, "junk")], "doc_id long, source string")
    scored = spark.createDataFrame(
        [(1, 5, 0.1, False)], "id long, n_tokens int, q_score double, keep boolean"
    )
    survivors = spark.createDataFrame([], "doc_id long, best_id long")
    (r,) = mixture_report(docs, scored, survivors).collect()
    assert (r["n_total"], r["n_kept"], r["gate_rate"]) == (1, 0, 0.0)
    assert r["total_tokens"] == 0
    assert r["q_p50"] is None and r["survivor_rate"] is None


# ------------------------------------------------------- rotation window pin


# test_driver_window_rotation_r9 retired with the r10 rotation — the
# live window pin is tests/test_round10_ops.py::
# test_driver_window_rotation_r10 (one pin per round, current round only;
# the r9 composition is recorded by CORRECTNESS_r09.json).


def test_mixture_report_totals_are_additive(spark, sf_dir):
    """Property on real data: summing the per-source report reproduces
    the corpus-level gate counts — no doc double-counted or dropped by
    the survivor join."""
    from pysparkflow.llmops.quality_model import quality_classify
    from pysparkflow.llmops.report import mixture_report

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    scored = quality_classify(docs)
    survivors = spark.createDataFrame([], "doc_id long, best_id long")
    rep = mixture_report(docs, scored, survivors).collect()
    assert sum(r["n_total"] for r in rep) == docs.count()
    assert sum(r["n_kept"] for r in rep) == scored.where("keep").count()
    # with no clusters, every kept doc is trivially a survivor
    assert all(r["survivor_rate"] in (1.0, None) for r in rep)
    assert all(0 <= r["n_kept"] <= r["n_total"] for r in rep)


# ------------------------------------------------------------ source_overlap


def test_source_overlap_planted_jaccard(spark):
    """Three sources with hand-enumerable 3-gram sets: s1={abc,bcd},
    s2={abc,bce}, s3={xyz,yzw} -> J(s1,s2)=1/3, zero for the others —
    and the zero pairs must still be EMITTED."""
    from pysparkflow.llmops.overlap import source_overlap

    docs = spark.createDataFrame(
        [
            (1, "s1", "a b c d"),
            (2, "s2", "a b c e"),
            (3, "s3", "x y z w"),
        ],
        "doc_id long, source string, text string",
    )
    rows = {
        (r["source_a"], r["source_b"]): r
        for r in source_overlap(docs, n=3).collect()
    }
    assert set(rows) == {("s1", "s2"), ("s1", "s3"), ("s2", "s3")}
    r12 = rows[("s1", "s2")]
    assert (r12["n_common"], r12["n_a"], r12["n_b"]) == (1, 2, 2)
    assert r12["jaccard"] == round(1 / 3, 6)
    assert rows[("s1", "s3")]["jaccard"] == 0.0
    assert rows[("s2", "s3")]["n_common"] == 0


def test_source_overlap_duplicate_shingles_within_source_count_once(spark):
    """The per-source sets are DISTINCT: two docs of one source sharing
    a shingle contribute it once."""
    from pysparkflow.llmops.overlap import source_overlap

    docs = spark.createDataFrame(
        [(1, "s1", "a b c"), (2, "s1", "a b c"), (3, "s2", "a b c")],
        "doc_id long, source string, text string",
    )
    (r,) = source_overlap(docs, n=3).collect()
    assert (r["n_a"], r["n_b"], r["n_common"], r["jaccard"]) == (1, 1, 1, 1.0)


def test_source_overlap_shingleless_source_is_omitted(spark):
    """A source with only sub-n-token docs has an empty shingle set
    (0/0 Jaccard is undefined) and is omitted from the matrix — pinned
    so operator and oracle keep agreeing on the edge."""
    from pysparkflow.llmops.overlap import source_overlap

    docs = spark.createDataFrame(
        [(1, "s1", "a b c"), (2, "s2", "a b c"), (3, "tiny", "a b")],
        "doc_id long, source string, text string",
    )
    rows = source_overlap(docs, n=3).collect()
    assert {(r["source_a"], r["source_b"]) for r in rows} == {("s1", "s2")}


def test_source_overlap_hash_frac_full_space_is_exact(spark):
    from pysparkflow.llmops.overlap import source_overlap

    docs = spark.createDataFrame(
        [(1, "s1", "a b c d"), (2, "s2", "a b c e")],
        "doc_id long, source string, text string",
    )
    exact = source_overlap(docs, n=3).collect()
    sampled = source_overlap(docs, n=3, hash_frac=1.0).collect()
    assert sorted(map(tuple, exact)) == sorted(map(tuple, sampled))
    import pytest as _pytest

    with _pytest.raises(ValueError, match="hash_frac"):
        source_overlap(docs, hash_frac=0.0)


# ------------------------------------------------------------ packing_report


def test_packing_report_planted_buckets(spark):
    """Hand-built packing table, budget 10: bucket 0 packs [4,5,3]
    (starts 0/4/9 -> the 3-token doc spans the boundary), bucket 1
    packs a single exact-fit doc."""
    from pysparkflow.llmops.packing import packing_report

    packed = spark.createDataFrame(
        [
            (1, 0, 4, 0, 0),
            (2, 0, 5, 0, 4),
            (3, 0, 3, 0, 9),
            (4, 1, 10, 0, 0),
        ],
        "id long, bucket long, n_tokens int, example_id long, offset long",
    )
    rows = {r["bucket"]: r for r in packing_report(packed, 10).collect()}
    b0, b1 = rows[0], rows[1]
    assert (b0["n_docs"], b0["total_tokens"], b0["n_examples"]) == (3, 12, 2)
    assert b0["utilization"] == 0.6
    assert b0["n_spanning"] == 1  # offset 9 + 3 tokens > 10
    assert (b1["n_docs"], b1["total_tokens"], b1["n_examples"]) == (1, 10, 1)
    assert b1["utilization"] == 1.0
    assert b1["n_spanning"] == 0  # exact fit is not a boundary cross


def test_packing_report_consistent_with_pack_documents(spark, sf_dir):
    """Integration invariant on real data: per bucket, n_examples =
    ceil(total_tokens/budget) and every example index the packing
    emitted is < n_examples."""
    import math

    from pyspark.sql import functions as F  # noqa: F811

    from pysparkflow.llmops.packing import pack_documents, packing_report

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    packed = pack_documents(docs, budget=512, n_buckets=4)
    rep = {r["bucket"]: r for r in packing_report(packed, 512).collect()}
    max_ex = {
        r["bucket"]: r["m"]
        for r in packed.groupBy("bucket")
        .agg(F.max("example_id").alias("m"))
        .collect()
    }
    for b, r in rep.items():
        assert r["n_examples"] == math.ceil(r["total_tokens"] / 512)
        assert max_ex[b] < r["n_examples"]

    with pytest.raises(ValueError, match="budget"):
        packing_report(packed, 0)


# -------------------------------------------- keep-best partial score table


def test_keep_best_unscored_member_never_wins_and_keeps_its_row(spark):
    """ADVICE r8: operator and oracle must share LEFT-join semantics — a
    clustered doc missing from the score table stays in the rewrite
    mapping (null score) but can never out-rank a scored member."""
    clusters = spark.createDataFrame(
        [(10, 1), (11, 1), (12, 1)], "doc_id long, keep_id long"
    )
    scored = spark.createDataFrame(
        [(10, 0.4), (11, 0.9)], "id long, q_score double"
    )  # doc 12 unscored
    rows = {
        r["doc_id"]: r
        for r in select_cluster_representatives(clusters, scored).collect()
    }
    assert set(rows) == {10, 11, 12}
    assert all(r["best_id"] == 11 for r in rows.values())
    assert rows[12]["score"] is None
    assert rows[12]["best_score"] == 0.9


def test_keep_best_all_unscored_cluster_elects_min_id(spark):
    clusters = spark.createDataFrame(
        [(20, 2), (21, 2)], "doc_id long, keep_id long"
    )
    scored = spark.createDataFrame([], "id long, q_score double")
    rows = select_cluster_representatives(clusters, scored).collect()
    assert all(r["best_id"] == 20 for r in rows)
    assert all(r["best_score"] is None for r in rows)


# ------------------------------------------------------ approx_topk guard


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_approx_topk_guard_holds_on_all_graded_sfs(sf):
    """ADVICE r8: the rank-5/rank-6 exact-count margin that makes the
    tolerance key-set check sound is asserted against every graded
    dataset, not assumed."""
    from pysparkflow.relational.registry import SPECS

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"'/root/testdata/{sf}/events.parquet'"
    )
    gdf = con.sql(SPECS["approx_topk"].tolerance["guard_sql"]).df()
    assert bool(gdf["ok"].all()), gdf.to_string()


def test_approx_topk_guard_fails_on_flat_distribution():
    """Negative control: equal-count keys leave no rank margin, so the
    guard must refuse (ok=False) instead of letting the key-set check
    flake."""
    from pysparkflow.relational.registry import SPECS

    con = duckdb.connect()
    # 8 buckets x 1000 rows each: rank5 == rank6 -> gap 0 < n/65
    con.execute(
        "CREATE VIEW events AS SELECT CAST(pow(2, 1 + i % 8) AS BIGINT) "
        "AS event_id FROM range(8000) t(i)"
    )
    gdf = con.sql(SPECS["approx_topk"].tolerance["guard_sql"]).df()
    assert not bool(gdf["ok"].all())


# ------------------------------------------------- decode_fn injection seam


def test_extract_features_with_injected_external_decoder(spark):
    """VERDICT r8 #5: the documented JPEG escape hatch — inject a
    decoder for a format the built-in codec-free paths refuse — works
    end-to-end through the Arrow-batched plan, not just in the docs."""

    def fake_jpeg_decoder(payload: bytes, kind: str) -> np.ndarray:
        if kind != "jpeg" or payload[:2] != b"\xff\xd8":
            raise ValueError("decoder only handles JPEG payloads")
        v = np.zeros(FEATURE_DIM, dtype=np.float32)
        v[0] = float(len(payload))
        v[1] = float(payload[-1])
        return v

    media = spark.createDataFrame(
        [(i, "jpeg", b"\xff\xd8" + bytes([i] * (3 + i))) for i in range(4)],
        "media_id long, kind string, payload binary",
    )
    rows = {
        r["media_id"]: r
        for r in extract_features(media, decode_fn=fake_jpeg_decoder).collect()
    }
    assert len(rows) == 4
    for i in range(4):
        assert rows[i]["n_bytes"] == 5 + i
        assert rows[i]["features"][0] == float(5 + i)
        assert rows[i]["features"][1] == float(i)
        assert len(rows[i]["features"]) == FEATURE_DIM


def test_decode_media_still_refuses_jpeg_without_injection():
    from pysparkflow.llmops.multimodal import decode_media

    with pytest.raises(NotImplementedError, match="decode_fn"):
        decode_media(b"\xff\xd8\xff\xe0rest-of-jpeg")


# ------------------------------------------------------------ image resize


def test_resize_nearest_identity_and_downscale():
    from pysparkflow.llmops.multimodal import resize_nearest

    arr = np.arange(4 * 6 * 3, dtype=np.uint8).reshape(4, 6, 3)
    assert (resize_nearest(arr, 4, 6) == arr).all()
    half = resize_nearest(arr, 2, 3)
    # floor map: rows 0,2 and cols 0,2,4
    assert (half == arr[[0, 2]][:, [0, 2, 4]]).all()
    up = resize_nearest(arr, 8, 6)
    # upscale repeats source rows: row Y reads floor(Y*4/8)
    assert (up[1] == arr[0]).all() and (up[7] == arr[3]).all()
    with pytest.raises(ValueError, match="positive"):
        resize_nearest(arr, 0, 3)


def test_image_resize_stats_matches_closed_form(spark):
    """Spark resize pipeline vs a pure-python replay of the synth
    formula composed with the floor index map."""
    from pysparkflow.llmops.multimodal import image_resize_stats

    ids = [5, 12, 33]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    rows = {r["media_id"]: r for r in image_resize_stats(df, 8, 8).collect()}
    for did in ids:
        w, h = 16 + did % 8, 8 + did % 5
        px = {
            (X, Y, c): (did * 7 + 3 * ((X * w) // 8) + 5 * ((Y * h) // 8)
                        + 11 * c) % 256
            for X in range(8) for Y in range(8) for c in range(3)
        }
        r = rows[did]
        assert (r["src_w"], r["src_h"], r["out_w"], r["out_h"]) == (w, h, 8, 8)
        assert r["tl_px"] == px[(0, 0, 0)]
        assert r["br_px"] == px[(7, 7, 2)]
        assert r["wsum"] == sum(
            v * (X + 7 * Y + 13 * c) for (X, Y, c), v in px.items()
        )
        assert r["mean_px"] == round(sum(px.values()) / 192, 6)


# ---------------------------------------------------- explicit raise paths


def test_stats_frame_rejects_non_image_payload_with_value_error():
    """ADVICE r8: worker-side validation must be a raise (survives
    python -O), and the message names the contract."""
    with pytest.raises(ValueError, match="expected 8-bit image"):
        _stats_frame([(1, synth_wav(1))])


def test_rawvideo_parser_rejects_bad_magic():
    from pysparkflow.llmops.multimodal import _parse_rawvideo

    with pytest.raises(ValueError, match="RVID"):
        _parse_rawvideo(b"NOPE" + b"\x00" * 16)


# ------------------------------------------------- stateful up-front checks


def test_running_event_counts_missing_ts_raises_up_front(spark):
    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .select(F.col("value").alias("user_id"))
    )
    with pytest.raises(ValueError, match="requires column"):
        running_event_counts(stream, state_horizon="30 days")


def test_running_event_counts_missing_key_raises_up_front(spark):
    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .select(F.col("timestamp").alias("ts"))
    )
    with pytest.raises(ValueError, match="user_id"):
        running_event_counts(stream, state_horizon=None)


def test_running_event_counts_no_horizon_does_not_need_ts(spark):
    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .select(F.col("value").alias("user_id"))
    )
    # ts only required when the horizon arms event-time timeouts
    df = running_event_counts(stream, state_horizon=None)
    assert df.columns == ["user_id", "batch_events", "total_events"]

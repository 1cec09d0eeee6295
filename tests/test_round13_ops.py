"""Round-13 operators: the BPE training->application CHAIN (learn a
merge list from the corpus, encode with it — VERDICT r12 #2), the
Unicode word-model contract (the ``\\p{L}`` extension of the r12
ASCII pin, VERDICT r12 #5), and the r13 driver-window rotation pins.

The trainer tests plant corpora with closed-form known merges, pin the
well-formedness equivalence the no-recursion DuckDB training oracle
relies on (round-n dictionary state == encode_word under the learned
list), and fuzz the oracle's independent CTE trainer against the Python
trainer on randomized corpora — all SQL DERIVED from the registry's own
builders (the ADVICE r12 anti-drift rule).
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from pysparkflow.llmops.bpe import (
    _merge_pass,
    bpe_document_tokens,
    bpe_train,
    bpe_train_encode,
    encode_word,
    train_merges,
    word_frequencies,
)

REPO = Path(__file__).resolve().parents[1]


# --------------------------------------------------------------- trainer

def test_train_merges_planted_closed_form():
    # corpus: "aaab" x3, "ab" x2 -> round 1 pairs: (a,a) 6, (a,b) 5,
    # adopt (a,a); round 2 state: [aa,a,b] x3, [a,b] x2 -> pairs
    # (aa,a) 3, (a,b) 5 -> adopt (a,b); round 3: [aa,ab] x3, [ab] x2
    # -> (aa,ab) 3 -> adopt; round 4: [aaab] x3 -> no pair left in
    # "aaab"... only single tokens remain -> early stop.
    m = train_merges([("aaab", 3), ("ab", 2)], 10)
    assert m == [("a", "a", 6), ("a", "b", 5), ("aa", "ab", 3)]


def test_train_merges_tie_break_is_count_desc_then_pair():
    # "he" x2 and "th" x2: pairs (h,e) 2 and (t,h) 2 — tie broken by
    # (lhs, rhs) ascending, so (h,e) is adopted first
    m = train_merges([("he", 2), ("th", 2)], 2)
    assert [(l, r) for l, r, _ in m] == [("h", "e"), ("t", "h")]


def test_train_merges_early_stop_and_empty():
    assert train_merges([("a", 5), ("b", 2)], 4) == []
    assert train_merges([], 4) == []
    # stops as soon as every word is a single token
    assert train_merges([("ab", 1)], 99) == [("a", "b", 1)]


def test_trained_state_equals_encode_word():
    """The equivalence the no-recursion DuckDB training oracle rests
    on (bpe.py's application note): for a TRAINED (well-formed) list,
    applying the adopted merges in order exhaustively — the trainer's
    own dictionary state — equals the greedy lowest-rank-first
    encode_word replay."""
    wf = [
        ("therein", 4), ("thereby", 2), ("inherent", 3), ("rent", 7),
        ("earnest", 1), ("tin", 9), ("a", 2), ("be", 5),
    ]
    learned = train_merges(wf, 12)
    merges = [(l, r) for l, r, _ in learned]
    for w, _ in wf:
        state = list(w)
        for l, r in merges:
            state = _merge_pass(state, l, r)
        assert state == encode_word(w, merges), w


def test_merge_pass_single_pass_is_exhaustive():
    # one left-to-right pass of a single rule leaves no applicable
    # occurrence (the closed-form argument in _merge_pass's docstring)
    cases = [
        (list("aaaa"), "a", "a", ["aa", "aa"]),
        (list("aaa"), "a", "a", ["aa", "a"]),
        (list("aab"), "a", "b", ["a", "ab"]),
        (list("bbaa"), "b", "a", ["b", "ba", "a"]),
    ]
    for toks, l, r, want in cases:
        out = _merge_pass(toks, l, r)
        assert out == want
        assert _merge_pass(out, l, r) == out  # fixpoint after one pass


def test_trained_lists_are_well_formed_fuzz():
    """The lemma the no-recursion DuckDB training oracle rests on,
    pinned as a property: ANY trained list is well-formed — every
    operand is a single character or the output of a strictly earlier
    rule (a pair can only be counted once both operands exist in the
    dictionary state). Well-formedness is what makes in-order
    exhaustive application equal the greedy encode (bpe.py's
    application note). Seeded, deterministic."""
    import random

    rng = random.Random(1301)
    alpha = "abcde"
    for trial in range(20):
        wf = [
            (
                "".join(rng.choice(alpha) for _ in range(rng.randint(1, 10))),
                rng.randint(1, 9),
            )
            for _ in range(rng.randint(1, 30))
        ]
        learned = train_merges(wf, rng.randint(1, 12))
        produced: set = set()
        for lhs, rhs, n in learned:
            assert n > 0
            for tok in (lhs, rhs):
                assert len(tok) == 1 or tok in produced, (trial, learned)
            produced.add(lhs + rhs)
        # outputs unique: no rule shadows another
        outs = [l + r for l, r, _ in learned]
        assert len(outs) == len(set(outs)), (trial, learned)


def test_bpe_train_oracle_cte_matches_trainer_fuzz():
    """The DuckDB macro-generated training CTE chain (the
    bpe_train_merges oracle's core) re-learns EXACTLY the merges the
    Python trainer adopts, on randomized corpora — and its round-n
    dictionary state matches encode_word under the learned list. SQL
    derived from the registry's own builder. Seeded, deterministic."""
    import random

    import duckdb

    from pysparkflow.relational.registry import _bpe_train_cte

    rng = random.Random(13)
    alpha = "abcdet"
    for trial in range(4):
        docs = [
            " ".join(
                "".join(rng.choice(alpha) for _ in range(rng.randint(1, 8)))
                for _ in range(rng.randint(1, 12))
            )
            for _ in range(40)
        ]
        con = duckdb.connect()
        con.execute("CREATE TABLE documents (doc_id INT, text VARCHAR)")
        con.executemany(
            "INSERT INTO documents VALUES (?, ?)", list(enumerate(docs))
        )
        n = 6
        got = con.sql(
            _bpe_train_cte(n)
            + "SELECT CAST(rank AS INT), lhs, rhs, n FROM merges ORDER BY rank"
        ).fetchall()
        # independent python trainer over the same word model
        wf: dict[str, int] = {}
        for d in docs:
            for w in d.split(" "):
                if w:
                    wf[w] = wf.get(w, 0) + 1
        exp = train_merges(sorted(wf.items()), n)
        assert got == [
            (i + 1, l, r, c) for i, (l, r, c) in enumerate(exp)
        ], f"trial {trial}"
        # the oracle's final dictionary state IS the learned-list encode
        merges = [(l, r) for l, r, _ in exp]
        state = dict(
            con.sql(
                _bpe_train_cte(n) + "SELECT word, toks FROM trained"
            ).fetchall()
        )
        assert set(state) == set(wf)
        for w in wf:
            assert state[w] == encode_word(w, merges), (trial, w)
        con.close()


def test_bpe_train_spark_chain(spark, sf_dir):
    # end-to-end on real parquet: learned merges are well-formed and
    # bpe_train_encode's accounting equals bpe_document_tokens under
    # the same learned list (the chain really feeds the encoder)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    learned = bpe_train(docs, n_merges=6)
    assert len(learned) == 6
    produced = set()
    for l, r, _ in learned:
        assert len(l) == 1 or l in produced
        assert len(r) == 1 or r in produced
        produced.add(l + r)
    # counts strictly positive and the corpus drives them
    assert all(n > 0 for _, _, n in learned)
    got = (
        bpe_train_encode(docs, n_merges=6)
        .orderBy("id")
        .limit(50)
        .collect()
    )
    merges = [(l, r) for l, r, _ in learned]
    want = (
        bpe_document_tokens(docs, merges).orderBy("id").limit(50).collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_bpe_train_max_vocab_gate(spark):
    # 40 distinct all-letter words (digits would split away under the
    # pinned word model and leave a tiny vocab)
    docs = spark.createDataFrame(
        [(i, "x" * (i + 1)) for i in range(40)], "doc_id int, text string"
    )
    with pytest.raises(ValueError, match="max_vocab"):
        bpe_train(docs, n_merges=2, max_vocab=10)


def test_bpe_train_encode_plan_is_arrow_batched(spark, sf_dir):
    # the learned-list encode must ride the same vocab-sized Arrow
    # seam as bpe_encode — never row-at-a-time Python
    from pysparkflow.relational.registry import QUERIES

    df = QUERIES["bpe_train_encode"](spark, sf_dir)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "BatchEvalPython" not in plan
    assert "MapInPandas" in plan


# ----------------------------------------------- word-model contract pin

def test_word_model_contract(spark):
    """The round-13 Unicode word model (the ``\\p{L}`` extension the
    r12 ASCII pin called for): a word is a maximal run of Unicode
    letters after lower(); digits/punctuation/symbols separate; CJK
    forms whole-run words; Spark and the DuckDB oracle's
    string_split_regex stay in lockstep on the contract classes; docs
    with no letters surface totals of 0, never NULL."""
    import duckdb

    rows = [
        (1, "Café 42 naïve résumé"),      # precomposed accented Latin
        (2, "東京 123 АБВ москва"),       # CJK + Cyrillic, digits split
        (3, "plain WORDS here"),
        (4, ""),
        (5, "Straße foo-bar λογος"),      # ß keeps, hyphen splits,
                                          # lowercase Greek is in-contract
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    wf = {
        r["word"]: r["freq"] for r in word_frequencies(docs).collect()
    }
    assert wf == {
        "café": 1, "naïve": 1, "résumé": 1,
        "東京": 1, "абв": 1, "москва": 1,
        "plain": 1, "words": 1, "here": 1,
        "straße": 1, "foo": 1, "bar": 1, "λογος": 1,
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id INT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    oracle = dict(
        con.sql(
            r"""
SELECT word, count(*) FROM (
  SELECT unnest(string_split_regex(lower(text), '[^\p{L}]+')) AS word
  FROM documents
) WHERE word <> '' GROUP BY word
"""
        ).fetchall()
    )
    assert oracle == wf  # the two engines' word models are in lockstep
    con.close()
    # doc 4 is wordless under the contract: totals 0, never NULL; CJK
    # words (no merge-table hits) fall back to per-character tokens
    acc = {
        r["id"]: (r["n_words"], r["n_bpe_tokens"])
        for r in bpe_document_tokens(docs).collect()
    }
    assert acc[4] == (0, 0)
    assert acc[3][0] == 3
    assert acc[2] == (3, 2 + 3 + 6)  # 東京=2 chars, абв=3, москва=6


def test_word_model_divergence_classes_documented(spark):
    """The two case-folding divergence classes the contract documents
    as out-of-scope really are the only fixture divergences — and they
    vanish on already-lowercase text. If an engine upgrade ever closes
    (or widens) the gap, this test fails and the contract docstring in
    word_frequencies must be re-pinned."""
    import duckdb

    # capital Greek final sigma: Java/Spark emit contextual 'ς',
    # utf8proc the medial 'σ'
    jvm = {r["word"] for r in word_frequencies(
        _docs_of(spark, ["ΛΟΓΟΣ"]), "text").collect()}
    duck = {w for (w,) in duckdb.sql(
        r"""SELECT unnest(string_split_regex(lower('ΛΟΓΟΣ'),
            '[^\p{L}]+'))""").fetchall()}
    assert jvm == {"λογος"} and duck == {"λογοσ"}
    # dotted capital İ: Java lowers to i + combining U+0307 (a
    # separator), utf8proc folds to plain i
    jvm = {r["word"] for r in word_frequencies(
        _docs_of(spark, ["İstanbul"]), "text").collect()}
    duck = {w for (w,) in duckdb.sql(
        r"""SELECT unnest(string_split_regex(lower('İstanbul'),
            '[^\p{L}]+'))""").fetchall()}
    assert jvm == {"i", "stanbul"} and duck == {"istanbul"}
    # already-lowercase text in both scripts is exact cross-engine
    jvm = {r["word"] for r in word_frequencies(
        _docs_of(spark, ["λογος istanbul"]), "text").collect()}
    duck = {w for (w,) in duckdb.sql(
        r"""SELECT unnest(string_split_regex(lower('λογος istanbul'),
            '[^\p{L}]+'))""").fetchall()}
    assert jvm == duck == {"λογος", "istanbul"}


def _docs_of(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id int, text string"
    )


# --------------------------------------------------------------- rotation

def test_driver_window_rotation_r13():
    """The r13 window itself was graded and committed
    (CORRECTNESS_r13.json, 50/50); what survives of the r13 contract is
    the SPILLOVER PIN — the fifteen alphabetically-last r10 entries the
    r13 window could not fit must lead the r14 front (after the
    always-in core). The full r14 window composition and the 3-round
    horizon are pinned by tests/test_round14_ops.py; this test keeps
    the handoff honest."""
    from pysparkflow.relational.registry import _ROUND_FRONT

    assert _ROUND_FRONT[:15] == [
        "knn_bruteforce", "knn_graph", "knn_ivf", "knn_ivf_recall",
        "knn_lsh", "lang_id", "min_cut", "mixture_drift",
        "nucleus_select", "quality_rank_fusion", "stream_merge_state",
        "token_budget_select", "topk_per_group", "unpivot_metrics",
        "zorder_layout",
    ]


def test_rotation_horizon_r13():
    """After the r13 grade lands, no regularly-rotated entry's most
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
        last[k] = 13
    stale = {
        k: r
        for k, r in last.items()
        if k in QUERIES
        and k in ORACLE_SQL
        and SPECS[k].tolerance is None
        and 13 - r > 3
    }
    assert not stale, f"entries beyond the 3-round horizon after r13: {stale}"


# ------------------------------------------------------- embedding_quantize

def test_quantize_planted_closed_form(spark):
    """Hand-computable 2-dim corpus: per-dim mn/mx [0,1] and [10,20],
    codes floor-exact, constant third dim takes the mx==mn branch
    (code 0, zero error)."""
    from pysparkflow.llmops.quantize import quantize_report

    rows = [
        (1, [0.0, 10.0, 7.0], "a"),
        (2, [1.0, 20.0, 7.0], "a"),
        (3, [0.5, 15.0, 7.0], "b"),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id int, embedding array<float>, label string"
    )
    got = {
        r["label"]: r
        for r in quantize_report(emb, "embedding", "label").collect()
    }
    # v1 -> [0, 0, 0]; v2 -> [255, 255, 0]; v3 -> [127, 127, 0]
    # (0.5 * 255 = 127.5 floors to 127)
    assert got["a"]["sum_codes"] == 510 and got["a"]["n_vecs"] == 2
    assert got["b"]["sum_codes"] == 254 and got["b"]["n_vecs"] == 1
    # group a reconstructs exactly (its vectors ARE the dim extremes)
    assert got["a"]["avg_mse"] == 0.0 and got["a"]["max_abs_err"] == 0.0
    # v3: dequant = 127/255 per unit range -> err = 0.5 - 127/255
    err0 = 0.5 - 127.0 / 255.0
    err1 = 15.0 - (10.0 + 127.0 * 10.0 / 255.0)
    mse = round((err0 * err0 + err1 * err1) / 3.0, 9)
    assert got["b"]["avg_mse"] == round(mse, 9)
    assert got["b"]["max_abs_err"] == round(abs(err1), 9)


def test_quantize_error_bound_invariant(spark, sf_dir):
    """On the real table, every group's max_abs_err respects the
    half-open quantizer step bound: err in [0, step_d) with step_d =
    (mx_d - mn_d)/255, so max_abs_err < max_d step_d; and n_vecs
    partitions the table."""
    from pysparkflow.llmops.quantize import dim_stats_row, quantize_report

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rep = quantize_report(emb, "embedding", "label").collect()
    srow = dim_stats_row(emb, "embedding").collect()[0]
    max_step = max(
        (mx - mn) / 255.0 for mn, mx in zip(srow["mns"], srow["mxs"])
    )
    assert sum(r["n_vecs"] for r in rep) == emb.count()
    for r in rep:
        assert 0.0 <= r["max_abs_err"] < max_step
        assert 0.0 <= r["avg_mse"] <= r["max_abs_err"] ** 2 + 1e-12


def test_quantize_pathological_shapes(spark):
    """Empty input -> empty report (the 1-row stats broadcast is
    empty-safe); a single vector is all-constant-dims -> codes 0 and
    exact reconstruction."""
    from pysparkflow.llmops.quantize import quantize_report

    schema = "vec_id int, embedding array<float>, label string"
    empty = spark.createDataFrame([], schema)
    assert quantize_report(empty, "embedding", "label").count() == 0
    one = spark.createDataFrame(
        [(1, [0.25, -3.5], "x")], schema
    )
    row = quantize_report(one, "embedding", "label").collect()[0]
    assert row["sum_codes"] == 0
    assert row["avg_mse"] == 0.0 and row["max_abs_err"] == 0.0
    # an EMPTY vector is out of the fixed-dim contract but must not
    # crash (try_divide on the zero size): codes 0, NULL mse, 0 max
    evec = spark.createDataFrame([(1, [], "x")], schema)
    row = quantize_report(evec, "embedding", "label").collect()[0]
    assert row["sum_codes"] == 0 and row["n_vecs"] == 1
    assert row["avg_mse"] is None and row["max_abs_err"] == 0.0


def test_lm_score_shares_unicode_word_model(spark):
    """lm_unigram_score tokenizes with the SAME \\p{L} letter-run model
    as the BPE family (the module docstring's shared-contract note):
    multilingual text scores identically in Spark and the DuckDB
    oracle's replay, and token counts see Unicode words."""
    import duckdb

    from pysparkflow.llmops.lm_score import unigram_lm_scores

    rows = [
        (1, "café café москва"),
        (2, "café 東京"),
        (3, ""),
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        r["doc_id"]: (r["n_tokens"], r["lm_score"])
        for r in unigram_lm_scores(docs).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id INT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    oracle = {
        d: (n, s)
        for d, n, s in con.sql(
            r"""
WITH toks AS (
  SELECT doc_id, t
  FROM documents,
       unnest(string_split_regex(lower(text), '[^\p{L}]+')) AS u(t)
  WHERE t <> ''),
model AS (
  SELECT t, ln(count(*) / (SELECT count(*) * 1.0 FROM toks)) AS lp
  FROM toks GROUP BY t)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       round(avg(lp), 4) AS lm_score
FROM toks JOIN model USING (t) GROUP BY doc_id
"""
        ).fetchall()
    }
    assert got == oracle
    assert got[1][0] == 3 and got[2][0] == 2  # unicode words counted
    assert 3 not in got  # wordless doc absent, as at ASCII
    con.close()


def test_quantize_oracle_matches_spark_fuzz(spark):
    """Seeded cross-engine fuzz (the bpe-fuzz pattern): on randomized
    corpora — negatives, subnormal magnitudes, duplicate rows, a
    constant dim — the Spark operator and the DuckDB oracle (both
    derived from the same MAX_CODE constant) agree EXACTLY on every
    column. Pins the contract against either side drifting."""
    import random

    import duckdb

    from pysparkflow.llmops.quantize import quantize_report
    from pysparkflow.relational.registry import _embed_quantize_sql

    rng = random.Random(1313)
    for trial in range(3):
        dims = rng.choice([3, 5, 8])
        rows = []
        for i in range(rng.randint(5, 24)):
            vec = [
                rng.choice(
                    [
                        rng.uniform(-2, 2),
                        rng.uniform(-1e-160, 1e-160),
                        0.0,
                        rng.uniform(100, 200),
                    ]
                )
                for _ in range(dims)
            ]
            vec[dims - 1] = 42.0  # constant dim -> the mx==mn branch
            rows.append((i, vec, f"g{i % 3}"))
        if trial == 1:
            rows += [(len(rows), rows[0][1], rows[0][2])]  # dup vector
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label string"
        )
        got = sorted(
            tuple(r) for r in quantize_report(emb, "embedding", "label")
            .select("label", "n_vecs", "sum_codes", "avg_mse", "max_abs_err")
            .collect()
        )
        con = duckdb.connect()
        con.execute(
            "CREATE TABLE embeddings (vec_id BIGINT, embedding FLOAT[], "
            "label VARCHAR)"
        )
        con.executemany(
            "INSERT INTO embeddings VALUES (?, ?, ?)", rows
        )
        want = sorted(tuple(r) for r in con.sql(_embed_quantize_sql()).fetchall())
        assert got == want, f"trial {trial}"
        con.close()

"""Round-12 operators: BPE tokenizer APPLICATION (encode with a trained
merge list — VERDICT r11 #3) and the r12 driver-window rotation pins.

The encode tests plant a merge list and assert EXACT token sequences —
the identity-level check the per-document count oracle can't see — plus
the well-formedness equivalences the DuckDB recursive-CTE oracle's
one-merge-per-step replay relies on.
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from pysparkflow.llmops.bpe import (
    DEFAULT_MERGES,
    bpe_document_tokens,
    bpe_token_budget,
    encode_word,
    encode_words,
)

REPO = Path(__file__).resolve().parents[1]


# ---------------------------------------------------------------- kernel

def test_encode_word_planted_sequences():
    # canonical GPT-2 greedy loop: lowest-rank pair present merges
    # first, all left-to-right non-overlapping occurrences per pass
    m = DEFAULT_MERGES
    assert encode_word("the", m) == ["the"]
    assert encode_word("thermometer", m) == [
        "the", "r", "m", "o", "m", "e", "t", "er",
    ]  # th+e (rank 1) beats e+r (rank 3) for the shared 'e'
    assert encode_word("sandstorm", m) == ["s", "and", "st", "or", "m"]
    assert encode_word("interesting", m) == ["in", "t", "er", "e", "st", "ing"]
    assert encode_word("banana", m) == ["b", "an", "an", "a"]
    assert encode_word("a", m) == ["a"]
    assert encode_word("", m) == []


def test_encode_word_rank_priority_and_overlap():
    # rank order decides, not text order: in "bcab" with merges
    # [(a,b),(b,c)], (a,b) merges FIRST (rank 0) even though (b,c)
    # appears earlier in the string; (b,c) then applies on the rescan
    merges = (("a", "b"), ("b", "c"))
    assert encode_word("bcab", merges) == ["bc", "ab"]
    # shared middle char: (a,b) at rank 0 consumes the b, starving (b,c)
    merges = (("a", "b"), ("b", "c"))
    assert encode_word("abc", merges) == ["ab", "c"]
    # left-to-right non-overlapping within the chosen pair: "aaa" with
    # (a,a) merges positions 0-1 only; "aaaa" gives two merges
    merges = (("a", "a"),)
    assert encode_word("aaa", merges) == ["aa", "a"]
    assert encode_word("aaaa", merges) == ["aa", "aa"]
    assert encode_word("aaaaa", merges) == ["aa", "aa", "a"]


def test_encode_word_well_formed_cascade():
    # a rule consuming an earlier rule's output applies after it
    merges = (("a", "b"), ("ab", "c"), ("abc", "d"))
    assert encode_word("abcd", merges) == ["abcd"]
    assert encode_word("abdc", merges) == ["ab", "d", "c"]


def test_default_merges_well_formed():
    # every operand is a single char or an output of an EARLIER rule —
    # the property that makes one-at-a-time == all-at-once == canonical
    # (and therefore the DuckDB recursive replay exact)
    produced = set()
    for lhs, rhs in DEFAULT_MERGES:
        for tok in (lhs, rhs):
            assert len(tok) == 1 or tok in produced, (
                f"operand {tok!r} used before produced"
            )
        produced.add(lhs + rhs)
    # outputs are unique (no rule shadows another)
    outs = [l + r for l, r in DEFAULT_MERGES]
    assert len(outs) == len(set(outs))


# --------------------------------------------------------------- operators

def test_encode_words_vocab_kernel(spark):
    words = spark.createDataFrame(
        [("the",), ("sandstorm",), ("x",)], "word string"
    )
    rows = {
        r["word"]: r
        for r in encode_words(words, DEFAULT_MERGES).collect()
    }
    assert rows["the"]["tokens"] == ["the"] and rows["the"]["n_tokens"] == 1
    assert rows["sandstorm"]["tokens"] == ["s", "and", "st", "or", "m"]
    assert rows["sandstorm"]["n_tokens"] == 5
    assert rows["x"]["tokens"] == ["x"] and rows["x"]["n_tokens"] == 1


def test_bpe_document_tokens_planted(spark):
    docs = spark.createDataFrame(
        [
            (1, "The the THE!", "a"),       # 3x 'the' -> 3 words, 3 tokens
            (2, "sandstorm, sandstorm", "a"),  # 2x5 tokens
            (3, "1234 --- 99", "b"),        # no alphabetic words at all
            (4, "", "b"),
        ],
        "doc_id long, text string, source string",
    )
    out = {
        r["id"]: r
        for r in bpe_document_tokens(docs, DEFAULT_MERGES).collect()
    }
    assert out[1]["n_words"] == 3 and out[1]["n_bpe_tokens"] == 3
    assert out[1]["max_token"] == "the"
    assert out[2]["n_words"] == 2 and out[2]["n_bpe_tokens"] == 10
    assert out[2]["max_token"] == "st"  # max('s','and','st','or','m')
    # totality: wordless docs keep 0 counts and NULL max_token
    assert out[3]["n_words"] == 0 and out[3]["n_bpe_tokens"] == 0
    assert out[3]["max_token"] is None
    assert out[4]["n_bpe_tokens"] == 0


def test_bpe_token_budget_planted(spark):
    # one source, bpe token counts 11/2/1 (total 14): at 60% nothing
    # fits (the longest doc alone already exceeds 8.4); at 80% exactly
    # the longest doc fits (cum 11 <= 11.2)
    docs = spark.createDataFrame(
        [
            (1, "thermometer store", "s"),   # 8 + 3 = 11 tokens
            (2, "the and", "s"),             # 1 + 1 = 2
            (3, "at", "s"),                  # 1
        ],
        "doc_id long, text string, source string",
    )
    rows = bpe_token_budget(docs, DEFAULT_MERGES, budget_frac_pct=60).collect()
    # total = 14, budget = 100*cum <= 60*14 = 840 -> cum <= 8.4: doc 1
    # has cum 11 -> excluded! ordering is longest first, so NOTHING fits
    # until cum <= 8.4 ... doc1 cum=11 fails, but window prefix means
    # docs 2,3 have cum 13,14 -> also fail
    assert rows == []
    rows = bpe_token_budget(docs, DEFAULT_MERGES, budget_frac_pct=80).collect()
    # cum <= 0.8*14 = 11.2 -> doc 1 (cum 11) kept, doc 2 (cum 13) cut
    assert [(r["id"], r["cum_toks"]) for r in rows] == [(1, 11)]


def test_bpe_encode_plan_is_arrow_batched(spark, sf_dir):
    # the Python seam must be Arrow-batched mapInPandas on the
    # vocab-sized side, never row-at-a-time
    from pysparkflow.relational.registry import QUERIES

    df = QUERIES["bpe_encode"](spark, sf_dir)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "BatchEvalPython" not in plan
    assert "MapInPandas" in plan


# --------------------------------------------------------------- rotation

# test_driver_window_rotation_r12 retired with the r14 rotation — its
# r9-spillover handoff was honored by the graded r13 window
# (CORRECTNESS_r13.json); the live window pin is tests/
# test_round14_ops.py::test_driver_window_rotation_r14 (one pin per
# round, current round only).


def test_rotation_horizon_r12():
    """The restated contract (VERDICT r10 #2, carried forward): after
    the r12 grade lands, no regularly-rotated entry's most recent
    driver row may be older than 3 rounds — computed from ALL committed
    CORRECTNESS_r*.json artifacts plus the window the driver will grade
    this round. Includes the never-graded blind-spot check from
    round 11: a brand-new oracled entry with no history must be IN the
    window, or it is invisible to the staleness loop forever."""
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
        last[k] = 12
    stale = {
        k: r
        for k, r in last.items()
        if k in QUERIES
        and k in ORACLE_SQL
        and SPECS[k].tolerance is None
        and 12 - r > 3
    }
    assert not stale, f"entries beyond the 3-round horizon after r12: {stale}"


def test_bpe_oracle_cte_matches_kernel_fuzz():
    """The DuckDB one-merge-per-step recursive CTE (the bpe_encode
    oracle's core) reproduces encode_word EXACTLY on randomized words —
    the committed form of the equivalence argument in bpe.py's
    application note. Seeded, so deterministic in CI."""
    import random

    import duckdb

    from pysparkflow.llmops.bpe import DEFAULT_MERGES, encode_word

    from pysparkflow.relational.registry import _bpe_enc_fragment

    rng = random.Random(12)
    alpha = "theandingorst"  # letters dense in the merge table
    words = list(
        {
            "".join(rng.choice(alpha) for _ in range(rng.randint(1, 14)))
            for _ in range(300)
        }
    )
    # the SQL is DERIVED from the oracle's own CTE builder (ADVICE r12:
    # an inline copy would keep passing against a stale duplicate if the
    # registry's enc CTE were later edited)
    vals = ", ".join(f"('{w}')" for w in words)
    sql = f"""
WITH RECURSIVE
vocab(word) AS (VALUES {vals}),
{_bpe_enc_fragment(DEFAULT_MERGES)}
SELECT word, toks FROM final
"""
    got = dict(duckdb.sql(sql).fetchall())
    assert set(got) == set(words)
    for w in words:
        assert got[w] == encode_word(w, DEFAULT_MERGES), w

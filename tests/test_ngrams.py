"""``functions.ngrams``: the one n-gram primitive behind shingling,
winnowing, bigram and trigram statistics.

Two kinds of test:

- identity pins: the per-position forms every n-gram site used before
  (``transform(sequence(...), i -> slice/element_at(tokens, ...))`` over a
  token *expression*) are kept here as references, and the primitive must
  return equal arrays on edge-case texts and on every document of the
  sf0.01 corpus;
- a structural guard over the optimized plans of the converted operators
  and gates: no lambda body may hold a split, regex, lower or trim whose
  input is an outer column. Spark evaluates a lambda body once per
  element, so such a node re-tokenizes the whole row per position and
  makes each document cost O(words²).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.functions import (
    ngrams,
    stable_hash31,
    word_shingles,
    words,
)
from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.operators import (
    dedup,
    text,
)
from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.workloads import (
    all_queries,
)

EDGE_TEXTS = [
    None,
    "",
    "   \t\n ",
    "one",
    "two words",
    "exactly three words",
    "a b a b a b a b",
    "the cat the cat the cat sat",
    "  Mixed   CASE\twith \n\n runs  OF   Whitespace ",
    "Ünïcödé façade — naïve café ÜNÏCÖDÉ façade",
    "日本語 の テキスト 日本語 の",
]


def _ref_word_shingles(col, k):
    """word_shingles as first written: the token expression is referenced
    inside the position lambda."""
    w = words(col)
    return F.array_distinct(
        F.when(
            F.size(w) >= k,
            F.transform(
                F.sequence(F.lit(1), F.size(w) - (k - 1)),
                lambda i: F.concat_ws(" ", F.slice(w, i, k)),
            ),
        ).otherwise(F.array().cast("array<string>"))
    )


def _ref_ordered(toks, n):
    """The ordered, duplicate-keeping form of the winnowing, bigram and
    trigram sites: element_at per offset, joined by a space."""
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(n)]),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _ref_winnow_minima(hs, window):
    """winnow_fingerprints' window minima as first written: array_min over
    a slice of the staged shingle-hash column per window start."""
    return F.when(
        F.size(hs) >= window,
        F.transform(
            F.sequence(F.lit(1), F.size(hs) - (window - 1)),
            lambda i: F.array_min(F.slice(hs, i, window)),
        ),
    ).otherwise(F.array().cast("array<bigint>"))


def _ref_pairs(toks):
    """The struct-pair form of the BPE and bigram-LM sites."""
    return F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.struct(
                F.element_at(toks, i).alias("a"), F.element_at(toks, i + 1).alias("b")
            ),
        ),
    ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))


# The token expressions the converted sites feed to ngrams.
TOKENIZERS = {
    "words": lambda: words("text"),
    "words_nonempty": lambda: F.filter(words("text"), lambda w: w != ""),
    "split_ws": lambda: F.split(F.trim(F.col("text")), r"\s+"),
    "alpha_tokens": lambda: F.filter(
        F.transform(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
            lambda w: F.regexp_replace(w, "[^a-z]", ""),
        ),
        lambda w: w != "",
    ),
}


def _pairs_of():
    """(name, old, new) array columns for every reference form and k = 1..5."""
    cols = []
    for k in range(1, 6):
        cols.append((f"word_shingles{k}", _ref_word_shingles("text", k),
                     word_shingles("text", k)))
        for name, tok in TOKENIZERS.items():
            cols.append((f"{name}{k}", _ref_ordered(tok(), k), ngrams(tok(), k)))
        hashes = F.transform(ngrams(words("text"), k), lambda s: stable_hash31(s))
        cols.append((f"winnow_minima{k}", _ref_winnow_minima(F.col(f"__hs{k}"), 4),
                     ngrams(hashes, 4, F.array_min)))
    for name, tok in TOKENIZERS.items():
        cols.append((
            f"{name}_pairs", _ref_pairs(tok()),
            ngrams(tok(), 2, lambda s: F.struct(s[0].alias("a"), s[1].alias("b"))),
        ))
    return cols


def _assert_identical(df):
    cols = _pairs_of()
    # the old winnowing code staged its ordered shingle hashes as a column
    df = df.select("*", *[
        F.transform(_ref_ordered(words("text"), k), lambda s: stable_hash31(s)).alias(f"__hs{k}")
        for k in range(1, 6)
    ])
    out = df.select(
        *[F.struct(old.alias("old"), new.alias("new")).alias(n) for n, old, new in cols]
    ).collect()
    nonempty = 0
    for row in out:
        for name, _, _ in cols:
            old, new = row[name]["old"], row[name]["new"]
            assert old == new, (name, old, new)
            nonempty += bool(new)
    assert nonempty, "every compared array was empty"


def test_ngrams_match_reference_forms_on_edge_cases(spark):
    df = spark.createDataFrame([(t,) for t in EDGE_TEXTS], "text string")
    _assert_identical(df)


def test_ngrams_edge_case_values(spark):
    df = spark.createDataFrame([(t,) for t in EDGE_TEXTS], "text string")
    got = {
        r["text"]: (r["w3"], r["s2"])
        for r in df.select(
            "text", ngrams(words("text"), 3).alias("w3"), word_shingles("text", 2).alias("s2")
        ).collect()
    }
    assert got[None] == ([], [])
    assert got[""] == ([], [])
    assert got["exactly three words"] == (["exactly three words"], ["exactly three", "three words"])
    # ordered and duplicate-keeping; word_shingles dedups
    assert got["a b a b a b a b"][0] == ["a b a", "b a b"] * 3
    assert got["a b a b a b a b"][1] == ["a b", "b a"]
    assert got["  Mixed   CASE\twith \n\n runs  OF   Whitespace "][0][0] == "mixed case with"


def test_ngrams_match_reference_forms_on_sf001_documents(spark, sf_dir):
    path = os.path.join(os.path.dirname(sf_dir), "sf0.01", "documents.parquet")
    if not os.path.exists(path):
        pytest.skip("no sf0.01 testdata next to the test scale factor")
    _assert_identical(spark.read.parquet(path).select("text"))


# ------------------------------------------------------------ structural guard

_TEXT_NODES = {"StringSplit", "RLike", "Lower", "StringTrim", "StringTrimLeft", "StringTrimRight"}


def _seq(s):
    return [s.apply(i) for i in range(s.size())]


def _name(node) -> str:
    return node.getClass().getSimpleName()


def _reads_outer_column(e) -> bool:
    if _name(e) == "AttributeReference":
        return True
    return any(_reads_outer_column(c) for c in _seq(e.children()))


def _scan_expression(e, found, in_lambda=False):
    """Count lambdas into ``found["lambdas"]``; record every split/regex/
    lower/trim node inside a lambda body whose string input reads an outer
    column (not only lambda variables)."""
    name = _name(e)
    kids = _seq(e.children())
    if in_lambda and (name in _TEXT_NODES or name.startswith("RegExp")) and kids:
        if _reads_outer_column(kids[0]):
            found["bad"].append(e.toString()[:160])
            return
    found["lambdas"] += name == "LambdaFunction"
    for c in kids:
        _scan_expression(c, found, in_lambda or name == "LambdaFunction")


def _scan_plan(plan, found):
    for e in _seq(plan.expressions()):
        _scan_expression(e, found)
    subplans = _seq(plan.children()) + _seq(plan.innerChildren())
    if _name(plan) == "AdaptiveSparkPlanExec":  # a cached relation's plan
        subplans.append(plan.inputPlan())
    for p in subplans:
        _scan_plan(p, found)


def _violations(df) -> list[str]:
    """Per-element tokenizers in ``df``'s optimized plan, including the
    plans of the relations it reads from the cache."""
    found = {"bad": [], "lambdas": 0}
    _scan_plan(df._jdf.queryExecution().optimizedPlan(), found)
    assert found["lambdas"], "the plan holds no lambda: nothing was checked"
    return found["bad"]


def _docs(spark):
    rows = [(i, t) for i, t in enumerate(EDGE_TEXTS) if t is not None]
    return spark.createDataFrame(rows, "doc_id long, text string")


OPERATORS = {
    "word_shingles": lambda d: d.select(word_shingles("text", 3)),
    "doc_shingle_hashes": lambda d: dedup._doc_shingle_hashes(d, "doc_id", "text", 3),
    "minhash_signatures": lambda d: dedup.minhash_signatures(d, "doc_id", "text"),
    "ngram_jaccard_pairs": lambda d: dedup.ngram_jaccard_pairs(d, "doc_id", "text"),
    "ppjoin_pairs": lambda d: dedup.ppjoin_pairs(d, "doc_id", "text"),
    "doc_fingerprints": lambda d: text.doc_fingerprints(d, "text"),
    "tfidf_cosine_pairs": lambda d: text.tfidf_cosine_pairs(d, "doc_id", "text", shingle_k=3),
    "winnow_fingerprints": lambda d: text.winnow_fingerprints(d, "text"),
    "repetition_features": lambda d: text.repetition_features(d, "text"),
    "top_ngrams": lambda d: text.top_ngrams(d, "text", "doc_id"),
    "bigram_lm_scores": lambda d: text.bigram_lm_scores(d, d, "doc_id", "text"),
    "bpe_train_merges": lambda d: text.bpe_train_merges(d, "text", n_merges=1),
}

# Gates whose plans run the n-gram sites (each fails on the per-position form).
GATES = [
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_ppjoin",
    "text_fingerprint",
    "text_winnow",
    "text_repetition",
    "top_ngrams",
    "text_bigram_lm",
    "sim_tfidf_sparse",
    "sketch_heavy_hitters",
    "text_heaps_law",
    "text_zipf_fit",
]


@pytest.mark.parametrize("op", sorted(OPERATORS))
def test_operator_tokenizes_outside_lambdas(spark, op):
    assert _violations(OPERATORS[op](_docs(spark))) == []


@pytest.mark.parametrize("gate", GATES)
def test_gate_tokenizes_outside_lambdas(spark, sf_dir, gate):
    assert _violations(all_queries()[gate](spark, sf_dir)) == []


def test_guard_flags_the_per_position_form(spark):
    # the reference shingle form re-splits the text inside its lambda
    bad = _violations(_docs(spark).select(_ref_word_shingles("text", 3)))
    assert bad and all("split" in b for b in bad)

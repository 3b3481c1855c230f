"""Tests for the exact-size stratified sampler (corpus.sample_stratified)
and the corpus n-gram heavy-hitter census (textstats.ngram_topk)."""

from __future__ import annotations

import hashlib

import pytest

from srag_spark.operators.corpus import sample_stratified
from srag_spark.functions.planning import release
from srag_spark.operators.textstats import ngram_topk


@pytest.fixture(scope="module")
def docs_df(spark):
    rows = [
        (i, f"doc body {i} alpha beta", ["web", "books", "code"][i % 3])
        for i in range(90)
    ]
    # one tiny group to exercise the whole-group path
    rows += [(1000 + i, f"tiny {i}", "tiny") for i in range(3)]
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def _expected_topk(rows, k, seed):
    """Reference sample: per group, the k smallest (md5(id:seed), id)."""
    by_g: dict[str, list[tuple[str, int]]] = {}
    for doc_id, _, src in rows:
        h = hashlib.md5(f"{doc_id}:{seed}".encode()).hexdigest()
        by_g.setdefault(src, []).append((h, doc_id))
    out = {}
    for g, hs in by_g.items():
        out[g] = [d for _, d in sorted(hs)[:k]]
    return out


def test_exact_size_and_hash_order(spark, docs_df):
    rows = [(r["doc_id"], r["text"], r["source"]) for r in docs_df.collect()]
    expected = _expected_topk(rows, k=7, seed=11)
    got = sample_stratified(docs_df, k=7, seed=11).collect()
    by_g: dict[str, list] = {}
    for r in sorted(got, key=lambda r: (r["source"], r["sample_rank"])):
        by_g.setdefault(r["source"], []).append(r["doc_id"])
    assert by_g == expected
    # exact sizes: min(k, n_g) per group
    sizes = {g: len(v) for g, v in by_g.items()}
    assert sizes == {"web": 7, "books": 7, "code": 7, "tiny": 3}
    # ranks are 1..n contiguous per group
    for g in by_g:
        ranks = sorted(
            r["sample_rank"] for r in got if r["source"] == g
        )
        assert ranks == list(range(1, len(ranks) + 1))


def test_partitioning_independent(spark, docs_df):
    a = sample_stratified(docs_df, k=5, seed=3)
    b = sample_stratified(docs_df.repartition(13), k=5, seed=3)
    ka = sorted((r["source"], r["doc_id"], r["sample_rank"]) for r in a.collect())
    kb = sorted((r["source"], r["doc_id"], r["sample_rank"]) for r in b.collect())
    assert ka == kb


def test_undershoot_fallback_is_exact(spark, docs_df):
    """A deliberately tiny oversample forces the prefilter to undershoot
    some groups; the fallback must still deliver the exact top-k."""
    rows = [(r["doc_id"], r["text"], r["source"]) for r in docs_df.collect()]
    expected = _expected_topk(rows, k=20, seed=5)
    got = sample_stratified(docs_df, k=20, seed=5, oversample=0.05).collect()
    by_g: dict[str, list] = {}
    for r in sorted(got, key=lambda r: (r["source"], r["sample_rank"])):
        by_g.setdefault(r["source"], []).append(r["doc_id"])
    assert by_g == expected


def test_persisted_release(spark, docs_df):
    persisted: list = []
    out = sample_stratified(docs_df, k=4, seed=1, persisted=persisted)
    assert out.count() == 3 * 4 + 3
    assert persisted
    release(persisted)
    assert persisted == []


@pytest.fixture(scope="module")
def grams_df(spark):
    boiler = "all rights reserved"
    rows = [
        (1, f"{boiler} unique one text here", ""),
        (2, f"prefix words {boiler} and more", ""),
        (3, f"{boiler} {boiler} doubled in one doc", ""),
        (4, "completely different content entirely", ""),
        (5, "to be", ""),  # shorter than n=3: contributes nothing
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, pad string")


def test_ngram_topk_counts_every_occurrence(spark, grams_df):
    top = ngram_topk(grams_df, n=3, k=5, min_count=2).collect()
    assert top, "expected at least the planted boilerplate gram"
    head = top[0]
    assert head["ngram"] == "all rights reserved"
    # docs 1, 2 each once; doc 3 twice → 4 occurrences over 3 docs
    assert head["n_occurrences"] == 4
    assert head["n_docs"] == 3
    # deterministic ordering: count desc then ngram asc
    keys = [(-r["n_occurrences"], r["ngram"]) for r in top]
    assert keys == sorted(keys)
    # min_count filters singletons
    assert all(r["n_occurrences"] >= 2 for r in top)


def test_ngram_topk_normalization_and_short_docs(spark):
    # normalization: case and punctuation collapse to the same gram
    d = spark.createDataFrame(
        [(1, "Hello, World AGAIN!"), (2, "hello world again")],
        "doc_id long, text string",
    )
    top = ngram_topk(d, n=3, k=3, min_count=2).collect()
    assert len(top) == 1
    assert top[0]["ngram"] == "hello world again"
    assert top[0]["n_occurrences"] == 2
    assert top[0]["n_docs"] == 2

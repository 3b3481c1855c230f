"""Cache lifecycle: a long-lived session must not accumulate cached
relations.  Every entry point below owns the ledger it persists into
(functions.planning) and leaves the CacheManager empty when it returns;
an operator given a caller ledger keeps its caches until the caller
releases them."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from srag_spark import synth
from srag_spark.api import SragEngine
from srag_spark.functions.planning import release
from srag_spark.operators.dedup import (
    minhash_dedup_pairs,
    simhash_near_pairs,
    simhash_signatures,
)
from srag_spark.plans.curation import curate_corpus
from srag_spark.plans.pipeline import ExtractionPipeline
from srag_spark.schema import DOCUMENTS_SCHEMA

GOOD = (
    "the quick brown fox jumps over the lazy dog and runs to the hills "
    "in the morning light for a long time with many friends of the forest"
)
OTHER = (
    "a completely different document about cooking pasta with tomato "
    "sauce and fresh basil leaves from the garden in the summer of that "
    "year when the harvest was plentiful and the kitchen was full"
)


def cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.fixture(autouse=True)
def _clean_cache(spark):
    # other suites' explicit persists must not count against these checks
    spark.catalog.clearCache()
    yield


@pytest.fixture(scope="module")
def text_docs(spark):
    rows = [(1, GOOD), (2, GOOD), (3, GOOD + " extra"), (4, OTHER), (5, OTHER + " too")]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _span_docs(spark, rows):
    return spark.createDataFrame(
        [(d, [{"kind": "text", "text": t, "media_ref": None, "offset": 0}])
         for d, t in rows],
        schema=DOCUMENTS_SCHEMA,
    )


def test_pipeline_run_releases_every_wave(spark, tmp_path):
    src = str(tmp_path / "docs")
    spark.createDataFrame(
        synth.generate_rows(24, seed=5, mega_every=0), schema=DOCUMENTS_SCHEMA
    ).write.parquet(src)
    pipe = ExtractionPipeline(spark, str(tmp_path / "out"), n_buckets=4, wave_size=2)
    summary = pipe.run(spark.read.parquet(src))
    assert sorted(summary["succeeded"]) == [0, 1, 2, 3]
    assert cache_empty(spark)


def test_engine_ingest_and_queries_release(spark, tmp_path):
    eng = SragEngine(spark, str(tmp_path / "kb"), n_buckets=4)
    eng.ingest(_span_docs(spark, [("a", GOOD), ("b", OTHER)]))
    assert cache_empty(spark)
    persisted_rdds = spark.sparkContext._jsc.getPersistentRDDs
    for text in ("quick brown fox", "cooking pasta", "basil garden summer"):
        before = persisted_rdds().size()
        assert eng.query(text, limit=2).collect()
        assert cache_empty(spark)
        # a query result holds its rows, not a persisted RDD
        assert persisted_rdds().size() == before


def test_curate_without_ledger_releases(spark, text_docs):
    held = []
    want = sorted(r.doc_id for r in curate_corpus(text_docs, persisted=held).collect())
    release(held)
    assert cache_empty(spark)

    got = sorted(r.doc_id for r in curate_corpus(text_docs).collect())
    assert got == want == [1, 4]
    assert cache_empty(spark)


def test_pair_operators_without_ledger_release(spark, text_docs):
    pairs = minhash_dedup_pairs(text_docs).filter(F.col("est_jaccard") >= 0.5)
    assert {(r.doc_a, r.doc_b) for r in pairs.collect()} >= {(1, 3), (4, 5)}
    assert cache_empty(spark)

    near = simhash_near_pairs(simhash_signatures(text_docs)).collect()
    assert (1, 2, 0) in {tuple(r) for r in near}
    assert cache_empty(spark)


def test_caller_ledger_holds_until_released(spark, text_docs):
    held = []
    out = curate_corpus(text_docs, persisted=held)
    assert held and not cache_empty(spark)
    assert out.count() == 2
    release(held)
    assert held == [] and cache_empty(spark)

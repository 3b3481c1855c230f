"""Classifier-based quality filter (operators/classify): learned
separation on a synthetic labeled corpus, threshold gate, zero-shuffle
scoring plan, schema stability."""

import random

import pytest

from srag_spark.operators.classify import (
    classifier_quality_filter,
    fit_quality_classifier,
    score_quality,
)

_POS_VOCAB = (
    "the report describes a careful analysis of historical documents "
    "archive research method evidence source chapter summary conclusion "
    "data figure table reference study review detailed thorough"
).split()
_NEG_VOCAB = (
    "click free casino bonus win money now offer deal cheap buy sale "
    "limited exclusive prize jackpot lucky spin urgent act fast winner"
).split()


def _doc(vocab, rng, n=30):
    return " ".join(rng.choice(vocab) for _ in range(n))


def _corpus():
    rng = random.Random(7)
    rows = []
    for i in range(50):
        rows.append((i, _doc(_POS_VOCAB, rng), 1.0))
    for i in range(50, 100):
        rows.append((i, _doc(_NEG_VOCAB, rng), 0.0))
    return rows


@pytest.fixture(scope="module")
def fitted(spark):
    rows = _corpus()
    train = [r for r in rows if r[0] % 5 != 0]
    test = [r for r in rows if r[0] % 5 == 0]
    df = spark.createDataFrame(train, "doc_id long, text string, label double")
    model = fit_quality_classifier(df, n_features=1 << 12)
    return model, test


def test_separates_held_out(spark, fitted):
    model, test = fitted
    docs = spark.createDataFrame(test, "doc_id long, text string, label double")
    got = {r["doc_id"]: r for r in score_quality(docs, model).collect()}
    acc = sum(
        1 for d, _, lbl in test if got[d]["pred"] == int(lbl)
    ) / len(test)
    assert acc >= 0.9
    pos = [got[d]["quality_p"] for d, _, l in test if l == 1.0]
    neg = [got[d]["quality_p"] for d, _, l in test if l == 0.0]
    assert min(pos) > max(neg)  # fully separable vocabularies


def test_filter_keeps_above_threshold(spark, fitted):
    model, test = fitted
    docs = spark.createDataFrame(
        [(d, t) for d, t, _ in test], "doc_id long, text string"
    )
    kept = classifier_quality_filter(docs, model, threshold=0.5)
    assert set(kept.columns) == {"doc_id", "text", "quality_p"}
    ids = {r["doc_id"] for r in kept.collect()}
    assert ids == {d for d, _, l in test if l == 1.0}


def test_scoring_after_an_observation(spark, fitted):
    # once a session has run an Observation, the SparkSession stops
    # serializing; a scoring closure that reaches it (through the LR
    # training summary) fails every task
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    spark.range(3).observe(obs, F.count(F.lit(1)).alias("n")).collect()
    assert obs.get == {"n": 3}
    model, test = fitted
    docs = spark.createDataFrame(test, "doc_id long, text string, label double")
    got = score_quality(docs, model).collect()
    assert sorted(r["doc_id"] for r in got) == sorted(d for d, _, _ in test)
    assert all(0.0 <= r["quality_p"] <= 1.0 for r in got)


def test_scoring_plan_has_no_shuffle(spark, fitted):
    model, _ = fitted
    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    plan = score_quality(docs, model)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_mixed_tokens_get_intermediate_scores(spark, fitted):
    model, _ = fitted
    half = " ".join(_POS_VOCAB[:10] + _NEG_VOCAB[:10])
    docs = spark.createDataFrame(
        [(1, " ".join(_POS_VOCAB)), (2, half), (3, " ".join(_NEG_VOCAB))],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["quality_p"] for r in
           score_quality(docs, model).collect()}
    assert got[1] > got[2] > got[3]

"""DSIR importance weighting (selection.dsir_weights) — hashed
unigram+bigram log-likelihood ratio of target vs raw distributions
(Xie et al. 2023, public spec).
"""

from __future__ import annotations

import hashlib
import math

import duckdb
import pytest

from srag_spark.operators.selection import dsir_weights

SF_DIR = "/root/testdata/sf0.001"


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _feats(text):
    w = text.split()
    return w + [f"{a} {b}" for a, b in zip(w, w[1:])]


def _bucket(feat, hc):
    return hashlib.md5(feat.encode()).hexdigest()[:hc]


def _expected_logw(doc, target_texts, raw_texts, hc=2, alpha=1.0):
    """Reference implementation in plain Python."""
    b_space = 16 ** hc
    tc, rc = {}, {}
    for txts, acc in ((target_texts, tc), (raw_texts, rc)):
        for t in txts:
            for f in _feats(t):
                b = _bucket(f, hc)
                acc[b] = acc.get(b, 0) + 1
    td = sum(tc.values()) + alpha * b_space
    rd = sum(rc.values()) + alpha * b_space
    logw = 0.0
    for f in _feats(doc):
        b = _bucket(f, hc)
        logw += math.log((tc.get(b, 0) + alpha) / td)
        logw -= math.log((rc.get(b, 0) + alpha) / rd)
    return round(logw, 4)


def test_matches_python_reference(spark):
    raw = [(1, "the cat sat"), (2, "stocks rallied sharply today"),
           (3, "the cat purred")]
    target = [(10, "the cat sat on the mat"), (11, "the cat napped")]
    out = {r["doc_id"]: r for r in dsir_weights(
        _df(spark, raw), _df(spark, target), hash_chars=2
    ).collect()}
    raw_texts = [t for _, t in raw]
    tgt_texts = [t for _, t in target]
    for did, txt in raw:
        assert out[did]["n_feats"] == len(_feats(txt))
        assert out[did]["logw_r"] == pytest.approx(
            _expected_logw(txt, tgt_texts, raw_texts), abs=1e-4
        ), did


def test_target_like_scores_higher(spark):
    """The DSIR signal: a target-like doc outweighs an off-domain doc."""
    raw = [(1, "the cat sat on the mat"),
           (2, "quarterly earnings guidance revised downward")]
    target = [(10, "the cat sat quietly"), (11, "a cat on a mat")]
    out = {r["doc_id"]: r["logw_r"] for r in dsir_weights(
        _df(spark, raw), _df(spark, target)
    ).collect()}
    assert out[1] > out[2]


def test_empty_doc_gets_zero_weight(spark):
    raw = [(1, "the cat sat"), (2, "")]
    out = {r["doc_id"]: r for r in dsir_weights(
        _df(spark, raw), _df(spark, [(10, "the cat")])
    ).collect()}
    assert out[2]["n_feats"] == 0
    assert out[2]["logw_r"] == 0.0


def test_single_word_doc_has_no_bigrams(spark):
    out = dsir_weights(
        _df(spark, [(1, "hello")]), _df(spark, [(10, "hello world")])
    ).collect()[0]
    assert out["n_feats"] == 1


def test_partitioning_invariance(spark):
    """Weights are a pure function of content: repartitioning the raw
    pool changes nothing (the sum order sensitivity stays under the
    round-4 reporting precision)."""
    raw = [(i, f"doc number {i} talks about the cat and topic {i % 7}")
           for i in range(50)]
    target = [(100 + i, "the cat sat on the mat") for i in range(5)]
    a = {r["doc_id"]: r["logw_r"] for r in dsir_weights(
        _df(spark, raw), _df(spark, target)
    ).collect()}
    b = {r["doc_id"]: r["logw_r"] for r in dsir_weights(
        _df(spark, raw).repartition(13), _df(spark, target)
    ).collect()}
    assert a == b



def test_every_job_runs_under_the_callers_job_group(spark, jobs_run_by):
    """The target and raw count passes run on threads of their own, and
    every job they start still belongs to the caller's job group."""
    tracker = spark.sparkContext.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    out, jobs = jobs_run_by(
        lambda: dsir_weights(
            _df(spark, [(1, "the cat sat"), (2, "stocks rallied")]),
            _df(spark, [(10, "the cat napped")]),
        ).collect()
    )
    assert len(out) == 2
    assert jobs
    # no new ungrouped job (a subset, not equality: the status store
    # evicts its oldest jobs past spark.ui.retainedJobs)
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped

def test_entry_matches_duckdb_oracle(spark):
    import __spark_entry__ as entrymod

    sdf = entrymod.queries()["dsir_weights"](spark, SF_DIR)
    srows = {r["doc_id"]: (r["n_feats"], r["logw_r"]) for r in sdf.collect()}

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'"
    )
    orows = {r[0]: (r[1], r[2]) for r in con.execute(
        entrymod.oracle_sql()["dsir_weights"]
    ).fetchall()}
    assert set(srows) == set(orows)
    for k in srows:
        assert srows[k][0] == orows[k][0], k
        assert srows[k][1] == pytest.approx(orows[k][1], abs=1e-4), k
    # weights genuinely separate: multiple distinct values
    assert len({v[1] for v in srows.values()}) > 10


# ---------------------------------------------------------------------------
# cluster_balanced_sample — flat per-cell quota over embedding clusters
# ---------------------------------------------------------------------------

def _emb_df(spark, n=400, dim=8, skew_cell_frac=0.7):
    """Deterministic embeddings engineered so one direction dominates:
    ~70% of vectors point near e0, the rest spread over other axes."""
    import math as _m

    rows = []
    for i in range(n):
        v = [0.0] * dim
        if i < n * skew_cell_frac:
            v[0] = 1.0
            v[1 + (i % (dim - 1))] = 0.05 * ((i % 7) + 1)
        else:
            v[1 + (i % (dim - 1))] = 1.0
            v[0] = 0.01 * (i % 5)
        norm = _m.sqrt(sum(x * x for x in v))
        rows.append((i, [x / norm for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cluster_sample_exact_flat_quota(spark):
    from srag_spark.operators.selection import cluster_balanced_sample

    emb = _emb_df(spark)
    out = cluster_balanced_sample(emb, k_per_cluster=3, n_clusters=8, dim=8).collect()
    per_cell = {}
    for r in out:
        per_cell.setdefault(r["cell"], []).append(r)
    # every populated cell contributes EXACTLY min(k, |cell|) rows
    assigned = cluster_balanced_sample(
        emb, k_per_cluster=10**9, n_clusters=8, dim=8
    ).collect()  # k huge → whole assignment
    sizes = {}
    for r in assigned:
        sizes[r["cell"]] = sizes.get(r["cell"], 0) + 1
    assert set(per_cell) == set(sizes)
    for c, rows in per_cell.items():
        assert len(rows) == min(3, sizes[c]), c
        assert sorted(r["sample_rank"] for r in rows) == list(
            range(1, len(rows) + 1)
        )
    # the dominant mode is capped at k like every other cell
    assert max(len(v) for v in per_cell.values()) <= 3


def test_cluster_sample_partitioning_invariant_and_drops_malformed(spark):
    from srag_spark.operators.selection import cluster_balanced_sample

    emb = _emb_df(spark, n=120)
    bad = spark.createDataFrame(
        [(9001, None), (9002, [1.0, 0.0])], "vec_id long, embedding array<float>"
    )
    a = {
        (r["vec_id"], r["cell"], r["sample_rank"])
        for r in cluster_balanced_sample(
            emb.unionByName(bad), 4, n_clusters=8, dim=8
        ).collect()
    }
    b = {
        (r["vec_id"], r["cell"], r["sample_rank"])
        for r in cluster_balanced_sample(
            emb.repartition(17), 4, n_clusters=8, dim=8
        ).collect()
    }
    assert a == b  # malformed rows dropped; layout-independent selection
    assert all(v < 9000 for v, _, _ in a)


def test_cluster_sample_requires_dim(spark):
    from srag_spark.operators.selection import cluster_balanced_sample

    with pytest.raises(ValueError, match="dim="):
        cluster_balanced_sample(_emb_df(spark, n=8), 2)

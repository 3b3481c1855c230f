"""Dedup / similarity / text-analysis operator unit tests with
hand-computed oracles (the cross-engine checks live in
tools/check_oracle.py; these pin local semantics and edge cases)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from srag_spark.functions.embedding import hash_embed
from srag_spark.operators.dedup import (
    exact_dedup,
    lsh_candidate_pairs,
    minhash_dedup_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_hamming,
    simhash_near_pairs,
    simhash_signatures,
)
from srag_spark.operators.similarity import brute_force_topk, lsh_topk
from srag_spark.operators.textstats import language_id, quality_score, fingerprint

DOCS = "doc_id string, text string"


def test_exact_dedup_normalization(spark):
    df = spark.createDataFrame(
        [
            ("a", "Hello, World!"),
            ("b", "hello world"),          # same after normalization
            ("c", "HELLO-world"),          # same after normalization
            ("d", "something else"),
        ],
        DOCS,
    )
    got = {r["doc_id"]: (r["canonical_id"], r["is_dup"]) for r in exact_dedup(df).collect()}
    assert got == {
        "a": ("a", False),
        "b": ("a", True),
        "c": ("a", True),
        "d": ("d", False),
    }


def test_minhash_exact_copies_found(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    df = spark.createDataFrame(
        [("a", base), ("b", base), ("c", "completely different words entirely here now")],
        DOCS,
    )
    sigs = {r["doc_id"]: r["sig"] for r in minhash_signatures(df).collect()}
    assert sigs["a"] == sigs["b"] and sigs["a"] != sigs["c"]
    pairs = minhash_dedup_pairs(df).collect()
    assert [(r["doc_a"], r["doc_b"], r["est_jaccard"]) for r in pairs] == [("a", "b", 1.0)]


def test_lsh_candidate_pairs_no_false_negatives_on_identical(spark):
    df = spark.createDataFrame([("x", "a b c d e f g"), ("y", "a b c d e f g")], DOCS)
    sigs = minhash_signatures(df)
    pairs = lsh_candidate_pairs(sigs).collect()
    assert [(r["doc_a"], r["doc_b"]) for r in pairs] == [("x", "y")]


def test_simhash_hamming_column(spark):
    df = spark.createDataFrame(
        [("10101010", "10101011"), ("1111", "0000"), ("1010", "1010")],
        "a string, b string",
    )
    got = [r["h"] for r in df.select(simhash_hamming(F.col("a"), F.col("b")).alias("h")).collect()]
    assert got == [1, 4, 0]


def test_simhash_near_pairs_on_near_identical(spark):
    base = "spark engine parses documents into ordered span sequences nightly"
    df = spark.createDataFrame(
        [("a", base), ("b", base + " extra"), ("c", "zz qq ww ee rr tt yy uu ii oo")],
        DOCS,
    )
    sigs = simhash_signatures(df)
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in simhash_near_pairs(sigs, max_hamming=6).collect()}
    assert ("a", "b") in pairs
    assert pairs[("a", "b")] <= 6


def test_simhash_near_pairs_repeated_doc_id_is_no_pair(spark):
    # a doc_id that appears twice in the signature table (a re-ingested
    # doc, an unioned batch) must not pair with itself; the strict id
    # order a < b still holds for every emitted pair
    sigs = spark.createDataFrame(
        [("d1", "0" * 32), ("d1", "0" * 32), ("d1", "0" * 31 + "1"),
         ("d2", "0" * 30 + "11"), ("d3", "1" * 32)],
        "doc_id string, simhash string",
    )
    pairs = {tuple(r) for r in simhash_near_pairs(sigs, max_hamming=3).collect()}
    assert pairs == {("d1", "d2", 1), ("d1", "d2", 2)}


def test_ngram_jaccard_hand_computed(spark):
    # a: shingles {ab c d, b c d e}? words: a b c d e → 3-grams:
    # "a b c","b c d","c d e" ; b: b c d e f → "b c d","c d e","d e f"
    # intersection 2, union 4 → jaccard 0.5
    df = spark.createDataFrame([("x", "a b c d e"), ("y", "b c d e f")], DOCS)
    pairs = ngram_jaccard_pairs(df, n=3, threshold=0.4, max_shingle_df=None).collect()
    assert len(pairs) == 1
    assert pairs[0]["doc_a"] == "x" and pairs[0]["doc_b"] == "y"
    assert pairs[0]["jaccard"] == pytest.approx(0.5)


def test_ngram_jaccard_stop_shingle_cap(spark):
    # a shingle shared by all 4 docs is dropped when cap < 4, removing
    # pairs that only matched through it
    common = "x y z"
    rows = [(f"d{i}", f"{common} unique{i} token{i} here{i}") for i in range(4)]
    df = spark.createDataFrame(rows, DOCS)
    with_cap = ngram_jaccard_pairs(df, n=3, threshold=0.01, max_shingle_df=3).collect()
    no_cap = ngram_jaccard_pairs(df, n=3, threshold=0.01, max_shingle_df=None).collect()
    assert len(no_cap) == 6  # all pairs share "x y z"
    assert len(with_cap) == 0


EMB = "vec_id bigint, embedding array<float>"


def _emb_df(spark, texts):
    return spark.createDataFrame(
        [(i, [float(x) for x in hash_embed(t, dim=32)]) for i, t in enumerate(texts)],
        EMB,
    )


def test_brute_force_topk_self_is_rank_one(spark):
    emb = _emb_df(spark, [f"doc {i}" for i in range(30)])
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    out = brute_force_topk(emb, queries, k=4).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["vec_id"], r["score_r"]))
    for qid, rows in by_q.items():
        rows.sort()
        assert rows[0][1] == qid  # self is nearest
        assert rows[0][2] == pytest.approx(1.0, abs=1e-4)
        scores = [s for _, _, s in rows]
        assert scores == sorted(scores, reverse=True)


def test_lsh_topk_subset_of_bruteforce_and_finds_self(spark):
    emb = _emb_df(spark, [f"doc {i}" for i in range(50)])
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    brute = {
        (r["query_id"], r["vec_id"]): r["score_r"]
        for r in brute_force_topk(emb, queries, k=50).collect()
    }
    lsh = lsh_topk(emb, queries, k=5, n_planes=4, dim=32).collect()
    for r in lsh:
        assert brute[(r["query_id"], r["vec_id"])] == r["score_r"]
    # the query vector itself always shares its own bucket → rank 1
    firsts = {r["query_id"]: r["vec_id"] for r in lsh if r["rank"] == 1}
    assert firsts == {0: 0, 1: 1, 2: 2}


def test_embedding_neardup_lsh_subset_of_brute_and_full_recall_on_planted(spark):
    """The LSH-bucketed near-dup plan must (a) return a subset of the
    brute-force result (exact verify inside buckets ⇒ precision 1.0) and
    (b) find every planted exact duplicate (identical vectors share all
    bands ⇒ recall 1.0 for true dups)."""
    from srag_spark.operators.dedup import (
        embedding_neardup_pairs,
        embedding_neardup_pairs_brute,
    )

    base = _emb_df(spark, [f"doc {i}" for i in range(40)])
    copies = base.filter(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 100).alias("vec_id"), "embedding"
    )
    emb = base.unionByName(copies)
    key = lambda r: (r["id_a"], r["id_b"])  # noqa: E731
    brute = {key(r): r["cos_r"] for r in embedding_neardup_pairs_brute(emb, 0.9).collect()}
    lsh = {
        key(r): r["cos_r"]
        for r in embedding_neardup_pairs(emb, 0.9, n_planes=16, bands=4, dim=32).collect()
    }
    assert set(lsh) <= set(brute)
    for k, v in lsh.items():
        assert brute[k] == v
    for i in range(5):  # every planted exact dup found
        assert (i, i + 100) in lsh and lsh[(i, i + 100)] == pytest.approx(1.0, abs=1e-4)


def test_lsh_topk_multiprobe_improves_recall(spark):
    """probes=2 (Hamming-1 multi-probe) must strictly beat probes=1 on
    recall@k vs brute force, and stay a subset of the exact result."""
    emb = _emb_df(spark, [f"doc {i}" for i in range(120)])
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    k = 5
    truth = {}
    for r in brute_force_topk(emb, queries, k=k).collect():
        truth.setdefault(r["query_id"], set()).add(r["vec_id"])

    def recall(probes):
        got = {}
        for r in lsh_topk(emb, queries, k=k, n_planes=8, dim=32, probes=probes).collect():
            got.setdefault(r["query_id"], set()).add(r["vec_id"])
        hits = sum(len(got.get(q, set()) & t) for q, t in truth.items())
        return hits / sum(len(t) for t in truth.values())

    r1, r2 = recall(1), recall(2)
    assert r2 > r1
    assert r2 <= 1.0


def test_ivf_topk_subset_of_brute_and_finds_self(spark):
    from srag_spark.operators.similarity import ivf_topk

    emb = _emb_df(spark, [f"doc {i}" for i in range(80)])
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    brute = {
        (r["query_id"], r["vec_id"]): r["score_r"]
        for r in brute_force_topk(emb, queries, k=80).collect()
    }
    out = ivf_topk(emb, queries, k=5, n_centroids=8, nprobe=2, dim=32).collect()
    for r in out:
        assert brute[(r["query_id"], r["vec_id"])] == r["score_r"]
    # a query's own vector shares its own cell → always rank 1
    firsts = {r["query_id"]: r["vec_id"] for r in out if r["rank"] == 1}
    assert firsts == {0: 0, 1: 1, 2: 2, 3: 3}


def test_ivf_topk_recall_grows_with_nprobe(spark):
    from srag_spark.operators.similarity import ivf_topk

    emb = _emb_df(spark, [f"doc {i}" for i in range(150)])
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    truth = {}
    for r in brute_force_topk(emb, queries, k=5).collect():
        truth.setdefault(r["query_id"], set()).add(r["vec_id"])

    def recall(nprobe):
        got = {}
        rows = ivf_topk(
            emb, queries, k=5, n_centroids=8, nprobe=nprobe, dim=32
        ).collect()
        for r in rows:
            got.setdefault(r["query_id"], set()).add(r["vec_id"])
        return sum(len(got.get(q, set()) & t) for q, t in truth.items()) / sum(
            len(t) for t in truth.values()
        )

    r1, r4, r8 = recall(1), recall(4), recall(8)
    assert r1 <= r4 <= r8
    assert r8 == 1.0  # probing every cell IS the exact scan
    assert r4 > r1    # multi-cell probing must add recall on this corpus


def test_ivf_topk_requires_dim(spark):
    from srag_spark.operators.similarity import ivf_topk

    emb = _emb_df(spark, ["a", "b"])
    queries = emb.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))
    with pytest.raises(ValueError, match="dim"):
        ivf_topk(emb, queries, k=1)


def test_lsh_topk_requires_dim(spark):
    emb = _emb_df(spark, ["a", "b"])
    queries = emb.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))
    with pytest.raises(ValueError, match="dim"):
        lsh_topk(emb, queries, k=1)


def test_language_id_planted(spark):
    df = spark.createDataFrame(
        [
            ("en", "the cat and the dog of the house"),
            ("de", "der hund und die katze ist nicht da"),
            ("fr", "le chat et la maison est une belle"),
            ("und", "zzz qqq www"),
        ],
        DOCS,
    )
    got = {r["doc_id"]: r["pred_lang"] for r in language_id(df).collect()}
    assert got == {"en": "en", "de": "de", "fr": "fr", "und": "und"}


def test_quality_score_ranges(spark):
    df = spark.createDataFrame(
        [("good", "the quick brown fox and the lazy dog " * 10), ("empty", ""), ("junk", "!!! ??? ...")],
        DOCS,
    )
    got = {r["doc_id"]: r for r in quality_score(df).collect()}
    assert 0.0 <= got["good"]["quality_r"] <= 1.0
    assert got["good"]["quality_r"] > got["junk"]["quality_r"]
    assert got["empty"]["n_words"] == 0 and got["empty"]["quality_r"] == 0.0


def test_fingerprint_stability_under_small_edit(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = spark.createDataFrame(
        [("a", base), ("b", base + " MU"), ("c", "totally different content here")],
        DOCS,
    )
    got = {r["doc_id"]: r for r in fingerprint(df).collect()}
    assert got["a"]["full_md5"] != got["b"]["full_md5"]
    # min-shingle sketch survives a suffix edit (winnowing property)
    assert got["a"]["sketch"] == got["b"]["sketch"]
    assert got["a"]["sketch"] != got["c"]["sketch"]


def test_repetition_stats_signals(spark):
    from srag_spark.operators.textstats import repetition_stats

    docs = spark.createDataFrame(
        [
            (1, "one two three four five six"),          # all 3-grams distinct
            (2, "one two three one two three"),          # doubled → dup 3-grams
            (3, "short txt"),                            # < 3 words → ratio 1.0
            (4, "a aaaaaaaaaaaaaaaa b 1234 5678"),       # long word + digits
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in repetition_stats(docs).collect()}
    assert out[1]["distinct_ngram_ratio_r"] == 1.0
    assert out[2]["distinct_ngram_ratio_r"] < 1.0
    assert out[3]["n_ngrams"] == 0 and out[3]["distinct_ngram_ratio_r"] == 1.0
    assert out[4]["max_word_len"] == 16
    assert out[4]["digit_ratio_r"] > 0.2


def test_persist_handles_released(spark):
    """Operators register their cached intermediates in the caller's
    ``persisted`` list; release() unpersists them all (ADVICE r2 — no
    session-lifetime cache accumulation)."""
    from srag_spark.operators.dedup import minhash_dedup_pairs
    from srag_spark.functions.planning import release

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon {i}") for i in range(20)],
        "doc_id int, text string",
    )
    handles = []
    pairs = minhash_dedup_pairs(docs, persisted=handles)
    pairs.count()
    assert len(handles) == 1 and handles[0].is_cached
    cached = handles[0]
    release(handles)
    assert handles == [] and not cached.is_cached


def test_ivf_trained_centroids_beat_seeded_at_equal_nprobe(spark):
    """The documented quantizer swap point: k-means-trained centroids
    (two native Lloyd iterations) must give >= recall than the seeded
    quantizer at every equal nprobe on this corpus, and strictly better
    somewhere (deterministic data -> deterministic recalls)."""
    from srag_spark.operators.similarity import ivf_topk, train_centroids_kmeans

    emb = _emb_df(spark, [f"doc {i}" for i in range(150)])
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    truth = {}
    for r in brute_force_topk(emb, queries, k=5).collect():
        truth.setdefault(r["query_id"], set()).add(r["vec_id"])

    def recall(centroids, nprobe):
        got = {}
        rows = ivf_topk(
            emb, queries, k=5, n_centroids=8, nprobe=nprobe, dim=32,
            centroids=centroids,
        ).collect()
        for r in rows:
            got.setdefault(r["query_id"], set()).add(r["vec_id"])
        return sum(len(got.get(q, set()) & t) for q, t in truth.items()) / sum(
            len(t) for t in truth.values()
        )

    trained = train_centroids_kmeans(emb, 8, 32, iters=2)
    assert len(trained) == 8 and all(len(c) == 32 for c in trained)
    # trained centroids stay (re-)unit-normalized
    for c in trained:
        assert abs(sum(x * x for x in c) - 1.0) < 1e-9
    gains = []
    for nprobe in (1, 2, 3):
        s, t = recall(None, nprobe), recall(trained, nprobe)
        assert t >= s
        gains.append(t - s)
    assert max(gains) > 0


def test_dot_lit_sql_bit_identical_to_dot_col(spark):
    """The SQL-text literal-dot fast path (one F.expr parse) must produce
    BIT-identical doubles to the Column-built dot_col form — no rounding
    allowed (the ANN/near-dup operators rely on exact equality for their
    DuckDB oracles)."""
    from srag_spark.operators.dedup import dot_col, dot_lit_sql, lit_vec

    vecs = [[float(x) for x in hash_embed(f"v{i}", dim=33)] for i in range(20)]
    lits = [float(x) for x in hash_embed("plane", dim=33)]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "id int, v array<double>"
    )
    out = df.select(
        "id",
        dot_col(F.col("v"), lit_vec(lits)).alias("a"),
        F.expr(dot_lit_sql("v", lits)).alias("b"),
    ).collect()
    assert all(r["a"] == r["b"] for r in out)
    assert any(r["a"] != 0.0 for r in out)


def test_line_dedup_flags_keeps_global_first(spark):
    """C4 line-dedup: only the global-first occurrence (min doc_id, pos)
    of each normalized line survives; unique lines always kept; position
    indexing counts pre-filter units."""
    from srag_spark.operators.dedup import line_dedup_flags

    df = spark.createDataFrame(
        [
            ("1", "Unique alpha. Shared Boilerplate Line. Unique beta"),
            ("2", "shared boilerplate line. Unique gamma"),
            ("3", "Totally distinct text here"),
        ],
        DOCS,
    )
    got = {
        (r["doc_id"], r["pos"]): (r["line"], r["keep"])
        for r in line_dedup_flags(df).collect()
    }
    assert got[("1", 0)] == ("Unique alpha", True)
    assert got[("1", 1)] == ("Shared Boilerplate Line", True)   # global first
    assert got[("1", 2)] == ("Unique beta", True)
    assert got[("2", 0)] == ("shared boilerplate line", False)  # dup (case/punct-insensitive)
    assert got[("2", 1)] == ("Unique gamma", True)
    assert got[("3", 0)] == ("Totally distinct text here", True)


def test_line_dedup_agg_mode_equals_window_mode(spark):
    """mode="agg" (skew-guarded groupBy-min + join-back) is bit-identical
    to the window form, including on an extremely duplicated line."""
    from srag_spark.operators.dedup import line_dedup_flags

    rows = [(f"d{i:03d}", f"unique {i} content. Subscribe to our newsletter")
            for i in range(60)]
    rows.append(("d999", "Subscribe to our newsletter"))
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    key = lambda df: sorted(
        (r["doc_id"], r["pos"], r["line"], r["keep"]) for r in df.collect()
    )
    assert key(line_dedup_flags(docs, mode="agg")) == key(
        line_dedup_flags(docs, mode="window")
    )


def test_kmeans_training_tolerates_malformed_embeddings(spark):
    """ADVICE r3: null / wrong-dim vectors must not crash training, and
    must not change the centroids trained from the valid rows."""
    import random

    from srag_spark.operators.similarity import train_centroids_kmeans

    rnd = random.Random(7)
    dim = 8

    def unit(seed):
        v = [rnd.gauss(0, 1) for _ in range(dim)]
        n = sum(x * x for x in v) ** 0.5 or 1.0
        return [x / n for x in v]

    good = [(i, unit(i)) for i in range(40)]
    schema = "vec_id int, embedding array<double>"
    clean = spark.createDataFrame(good, schema)
    dirty = spark.createDataFrame(
        good + [(100, None), (101, [1.0, 0.0]), (102, [])], schema
    )
    c1 = train_centroids_kmeans(clean, n_centroids=4, dim=dim, iters=2)
    c2 = train_centroids_kmeans(dirty, n_centroids=4, dim=dim, iters=2)
    assert c1 == c2


def test_semdedup_matches_bruteforce_rule(spark):
    """semdedup_flags equals the reference rule computed in plain Python:
    cluster by argmax centroid dot, rank by (csim desc, id), drop any
    point with cosine >= tau to ANY earlier-ranked cluster-mate."""
    import numpy as np

    from srag_spark.operators.dedup import semdedup_flags

    from srag_spark.functions.planning import release
    from srag_spark.operators.similarity import make_centroids

    dim, n_clusters, tau = 16, 4, 0.9
    vecs = {}
    for i in range(30):
        vecs[i] = np.array(hash_embed(f"sem-{i}", dim=dim), dtype=np.float64)
    # planted: exact copy of 3, and a jittered near-copy of 7
    vecs[100] = vecs[3].copy()
    j = vecs[7] + 0.05 * np.array(hash_embed("sem-jit", dim=dim))
    vecs[101] = j / np.linalg.norm(j)
    df = spark.createDataFrame(
        [(int(k), [float(x) for x in v]) for k, v in vecs.items()],
        "vec_id long, embedding array<double>",
    )
    p = []
    got = {
        r["vec_id"]: (r["cell"], r["keep"])
        for r in semdedup_flags(
            df, threshold=tau, n_clusters=n_clusters, dim=dim, persisted=p
        ).collect()
    }
    release(p)

    cents = np.array(make_centroids(n_clusters, dim))
    exp = {}
    by_cell = {}
    for k, v in vecs.items():
        dots = cents @ v
        cell = int(np.argmax(dots)) + 1
        by_cell.setdefault(cell, []).append((round(float(dots.max()), 6), k))
    for cell, members in by_cell.items():
        members.sort(key=lambda t: (-t[0], t[1]))
        for i, (_, k) in enumerate(members):
            dup = any(
                round(float(vecs[k] @ vecs[members[j][1]]), 6) >= tau
                for j in range(i)
            )
            exp[k] = (cell, not dup)
    assert got == exp
    # the planted exact copy always drops; its original survives
    assert got[100][1] is False and got[3][1] is True


def test_semdedup_rejects_malformed_and_requires_dim(spark):
    from srag_spark.operators.dedup import semdedup_flags

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, None), (3, [1.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError):
        semdedup_flags(df)
    out = semdedup_flags(df, threshold=0.9, n_clusters=2, dim=2).collect()
    assert {r["vec_id"] for r in out} == {1}


def test_embedding_cross_pairs_decontamination(spark):
    """Cross-corpus form: exact copies always collide in every band
    (recall 1.0 for them); a jittered near-copy above the threshold is
    found; orthogonal-ish vectors are not flagged."""
    import numpy as np

    from srag_spark.operators.dedup import embedding_cross_pairs

    dim = 16
    train = {i: np.array(hash_embed(f"tr-{i}", dim=dim)) for i in range(40)}
    jit = train[5] + 0.04 * np.array(hash_embed("xjit", dim=dim))
    evals = {
        1000: train[3].copy(),                 # exact leak
        1001: jit / np.linalg.norm(jit),       # paraphrase-ish leak
        1002: np.array(hash_embed("unrelated", dim=dim)),
    }
    tdf = spark.createDataFrame(
        [(k, [float(x) for x in v]) for k, v in train.items()],
        "vec_id long, embedding array<double>",
    )
    edf = spark.createDataFrame(
        [(k, [float(x) for x in v]) for k, v in evals.items()],
        "vec_id long, embedding array<double>",
    )
    got = {
        (r["id_l"], r["id_r"]): r["cos_r"]
        for r in embedding_cross_pairs(
            tdf, edf, threshold=0.9, n_planes=16, bands=4, dim=dim
        ).collect()
    }
    assert (3, 1000) in got and got[(3, 1000)] == 1.0
    assert (5, 1001) in got and got[(5, 1001)] >= 0.9
    assert all(r != 1002 for (_, r) in got)
    with pytest.raises(ValueError):
        embedding_cross_pairs(tdf, edf)


def test_knn_graph_brute_excludes_self_and_ranks(spark):
    from srag_spark.operators.similarity import knn_graph

    emb = _emb_df(spark, [f"doc {i}" for i in range(20)])
    out = knn_graph(emb, k=4, method="brute").collect()
    by_src = {}
    for r in out:
        assert r["vec_id"] != r["nbr_id"]  # no self-edges
        by_src.setdefault(r["vec_id"], []).append((r["rank"], r["score_r"]))
    assert set(by_src) == set(range(20))
    for rows in by_src.values():
        rows.sort()
        assert [rk for rk, _ in rows] == [1, 2, 3, 4]
        scores = [s for _, s in rows]
        assert scores == sorted(scores, reverse=True)


def test_knn_graph_lsh_subset_of_brute_and_finds_planted_dup(spark):
    from srag_spark.operators.similarity import knn_graph

    base = [f"doc {i}" for i in range(30)]
    emb = _emb_df(spark, base)
    # planted exact duplicate of vec 0 (id 30): identical codes share all
    # bands, so each must be the other's rank-1 neighbor at cosine 1.0
    dup = emb.filter(F.col("vec_id") == 0).select(
        (F.col("vec_id") + 30).alias("vec_id"), "embedding"
    )
    emb = emb.unionByName(dup)
    brute = {
        (r["vec_id"], r["nbr_id"]): r["score_r"]
        for r in knn_graph(emb, k=31, method="brute").collect()
    }
    lsh = knn_graph(emb, k=3, method="lsh", n_planes=16, bands=4, dim=32).collect()
    for r in lsh:
        assert brute[(r["vec_id"], r["nbr_id"])] == r["score_r"]
    firsts = {r["vec_id"]: (r["nbr_id"], r["score_r"]) for r in lsh if r["rank"] == 1}
    assert firsts[0] == (30, pytest.approx(1.0, abs=1e-5))
    assert firsts[30] == (0, pytest.approx(1.0, abs=1e-5))


def test_knn_graph_requires_dim_and_rejects_bad_method(spark):
    from srag_spark.operators.similarity import knn_graph

    emb = _emb_df(spark, ["a", "b"])
    with pytest.raises(ValueError, match="dim"):
        knn_graph(emb, method="lsh")
    with pytest.raises(ValueError, match="method"):
        knn_graph(emb, method="cosine-tree", dim=32)


def test_band_width_validation_across_lsh_operators(spark):
    from srag_spark.operators.dedup import embedding_neardup_pairs
    from srag_spark.operators.similarity import band_width, knn_graph

    with pytest.raises(ValueError, match="divisor"):
        band_width(4, 8)  # zero-width blocks
    with pytest.raises(ValueError, match="divisor"):
        band_width(16, 5)  # truncated trailing bits
    assert band_width(16, 4) == 4
    emb = _emb_df(spark, ["a", "b"])
    with pytest.raises(ValueError, match="divisor"):
        knn_graph(emb, method="lsh", n_planes=4, bands=8, dim=32)
    with pytest.raises(ValueError, match="divisor"):
        embedding_neardup_pairs(emb, n_planes=16, bands=5, dim=32)


def test_recall_at_k_counts_and_missing_queries(spark):
    from srag_spark.operators.similarity import (
        brute_force_topk,
        lsh_topk,
        recall_at_k,
    )

    emb = _emb_df(spark, [f"doc {i}" for i in range(40)])
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    exact = brute_force_topk(emb, queries, k=5)
    # exact vs itself: recall 1.0 everywhere
    perfect = recall_at_k(exact, exact, k=5).collect()
    assert [r["recall_r"] for r in perfect] == [1.0] * 4
    # approximate side: recall in [0, 1], every exact query present
    approx = lsh_topk(emb, queries, k=5, n_planes=4, dim=32)
    out = recall_at_k(approx, exact, k=5).collect()
    assert [r["query_id"] for r in out] == [0, 1, 2, 3]
    for r in out:
        assert 0.0 <= r["recall_r"] <= 1.0 and r["hits"] == round(r["recall_r"] * 5)
    # a query with no approx rows at all still appears with recall 0
    empty = recall_at_k(approx.limit(0), exact, k=5).collect()
    assert [(r["query_id"], r["hits"]) for r in empty] == [(0, 0), (1, 0), (2, 0), (3, 0)]

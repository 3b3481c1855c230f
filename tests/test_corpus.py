"""Training-corpus composition operators (operators/corpus.py):
sequence packing + mixture sampling."""

from __future__ import annotations

from pyspark.sql import functions as F

from srag_spark.operators.corpus import (
    _rate_threshold_hex,
    pack_sequences,
    sample_mixture,
)


def _docs(spark):
    return spark.createDataFrame(
        [
            (1, "a b c d e"),
            (2, "f g"),
            (3, ""),          # zero tokens → dropped
            (4, "h i j k l m n o p q r s"),  # 12 tokens: straddles windows
            (5, "t"),
        ],
        "doc_id long, text string",
    )


def test_pack_sequences_spec(spark):
    """Frozen spec at budget=8: stream positions d1[0,5) d2[5,7)
    d4[7,19) d5[19,20) → window assignments with within-pack offsets."""
    out = sorted(
        tuple(r)
        for r in pack_sequences(_docs(spark), budget=8)
        .select("doc_id", "n_tokens", "pack_id", "pack_start", "pack_end")
        .collect()
    )
    assert out == [
        (1, 5, 0, 0, 5),
        (2, 2, 0, 5, 7),
        (4, 12, 0, 7, 8),   # head of doc 4 fills window 0
        (4, 12, 1, 0, 8),   # full middle window
        (4, 12, 2, 0, 3),   # tail
        (5, 1, 2, 3, 4),
    ]


def test_pack_sequences_invariants_and_partition_independence(spark):
    """Per-doc pack slices sum to its token count; windows fill
    contiguously; and the output is identical at any partition count
    (the distributed prefix sum is defined by the global order alone)."""
    import random

    rnd = random.Random(3)
    docs = spark.createDataFrame(
        [(i, " ".join(f"w{j}" for j in range(rnd.randint(0, 40))))
         for i in range(200)],
        "doc_id long, text string",
    )
    budget = 64
    a = pack_sequences(docs, budget=budget, n_partitions=3)
    b = pack_sequences(docs, budget=budget, n_partitions=11)
    rows = sorted(tuple(r) for r in a.collect())
    assert rows == sorted(tuple(r) for r in b.collect())

    per_doc: dict[int, int] = {}
    per_pack: dict[int, int] = {}
    for doc_id, n_tokens, pack_id, s, e in rows:
        assert 0 <= s < e <= budget
        per_doc[doc_id] = per_doc.get(doc_id, 0) + (e - s)
        per_pack[pack_id] = per_pack.get(pack_id, 0) + (e - s)
    toks = {
        r["doc_id"]: r["n"]
        for r in docs.select(
            "doc_id",
            F.size(F.array_remove(F.split("text", r"\s+"), "")).alias("n"),
        ).collect()
        if r["n"] > 0
    }
    assert per_doc == toks
    # every window except the last is exactly full
    last = max(per_pack)
    for pid, n in per_pack.items():
        assert n == budget or pid == last


def test_sample_mixture_deterministic_and_weighted(spark):
    docs = spark.createDataFrame(
        [(i, "web" if i % 3 else "books") for i in range(3000)],
        "doc_id long, source string",
    )
    rates = {"web": 0.3, "books": 1.0}
    s1 = sample_mixture(docs, rates, group_col="source", seed=11)
    s2 = sample_mixture(docs.repartition(17), rates, group_col="source", seed=11)
    ids1 = sorted(r["doc_id"] for r in s1.collect())
    assert ids1 == sorted(r["doc_id"] for r in s2.collect())

    by_group = {
        r["source"]: (r["n"], r["w"])
        for r in s1.groupBy("source")
        .agg(F.count("*").alias("n"), F.first("weight").alias("w"))
        .collect()
    }
    n_books_total = 3000 - 2000
    assert by_group["books"] == (n_books_total, 1.0)  # rate 1.0 keeps all
    n_web, w_web = by_group["web"]
    assert abs(w_web - 1.0 / 0.3) < 1e-9
    assert 0.2 * 2000 < n_web < 0.4 * 2000  # ~30% of the 2000 web docs

    # a different seed draws an independent sample
    ids3 = sorted(
        r["doc_id"] for r in sample_mixture(
            docs, rates, group_col="source", seed=12
        ).collect()
    )
    assert ids3 != ids1


def test_rate_threshold_hex_edges():
    assert _rate_threshold_hex(0.0) == "00000000"
    assert _rate_threshold_hex(1.0) == "zzzzzzzz"   # > every hex digit
    assert _rate_threshold_hex(1.5) == "zzzzzzzz"
    assert _rate_threshold_hex(0.5) == format(2 ** 31, "08x")


def test_find_contamination_planted_overlap(spark):
    """A train doc containing an eval doc's 5-gram flags with the right
    hit count; clean and too-short docs stay clean."""
    from srag_spark.operators.corpus import find_contamination

    eval_docs = spark.createDataFrame(
        [(100, "the capital of france is paris obviously")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            # contains "capital of france is paris" → 5-gram overlaps
            (1, "we know the capital of france is paris from school"),
            (2, "completely unrelated text about cooking pasta dishes here"),
            (3, "too short"),
            # exact eval text → every one of its 5-grams hits
            (4, "the capital of france is paris obviously"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["ngram_hits"], r["contaminated"])
        for r in find_contamination(train, eval_docs, n=5).collect()
    }
    # doc 1: windows of "the capital of france is paris" region —
    # eval 5-grams present: "the capital of france is",
    # "capital of france is paris" → 2 hits
    assert out[1] == (2, True)
    assert out[2] == (0, False)
    assert out[3] == (0, False)
    assert out[4][1] is True and out[4][0] == 3  # 7 tokens → 3 windows, all hit
    # n larger than every doc → nothing flags
    clean = find_contamination(train, eval_docs, n=50).collect()
    assert all(not r["contaminated"] for r in clean)


def test_pack_sequences_lazy_mode_with_release_handle(spark):
    """persisted=[] returns a LAZY frame (corpus-scale path); output
    equals the materialized mode; release() frees the parent."""
    from srag_spark.functions.planning import release
    from srag_spark.operators.corpus import pack_sequences

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{j}" for j in range(i % 17))) for i in range(100)],
        "doc_id long, text string",
    )
    handle: list = []
    lazy = pack_sequences(docs, budget=32, persisted=handle)
    eager = pack_sequences(docs, budget=32)
    assert sorted(map(tuple, lazy.collect())) == sorted(map(tuple, eager.collect()))
    assert len(handle) == 1
    release(handle)
    assert handle == []


def test_rate_threshold_hex_near_one_boundary():
    """Rates within float rounding of 1.0 clamp to 'ffffffff' instead of
    overflowing to the 9-char '100000000' (which compares BELOW most
    8-char hashes and would collapse the keep rate to ~6%; ADVICE r4)."""
    thr = _rate_threshold_hex(1.0 - 2.0 ** -40)
    assert thr == "ffffffff"
    assert len(thr) == 8
    # a representative hash survives under the near-1.0 threshold
    assert "fb9a8cd2" < thr
    # and thresholds stay monotone up to the keep-all sentinel
    assert thr < _rate_threshold_hex(1.0)


def test_find_contamination_positions(spark):
    """positions=True emits the sorted 0-based token start index of every
    leaked window; ngram_hits counts train-side OCCURRENCES (a repeated
    leaked n-gram counts each time), per the frozen docstring semantics."""
    from srag_spark.operators.corpus import find_contamination

    train = spark.createDataFrame(
        [
            ("a", "w1 w2 w3 w4 w5"),      # one leaked 3-gram at token 1
            ("b", "x y z"),                # clean
            ("c", "p q p q p q r"),        # 'p q p' leaks at tokens 0, 2
        ],
        "doc_id string, text string",
    )
    ev = spark.createDataFrame(
        [("e1", "w2 w3 w4"), ("e2", "p q p")], "doc_id string, text string"
    )
    out = {
        r["doc_id"]: r
        for r in find_contamination(train, ev, n=3, positions=True).collect()
    }
    assert out["a"]["ngram_hits"] == 1 and out["a"]["hit_positions"] == [1]
    assert out["b"]["ngram_hits"] == 0 and out["b"]["hit_positions"] == []
    assert not out["b"]["contaminated"]
    assert out["c"]["ngram_hits"] == 2 and out["c"]["hit_positions"] == [0, 2]


def test_repeat_epochs_counts_and_mixture_equivalence(spark):
    from srag_spark.operators.corpus import repeat_epochs

    docs = spark.createDataFrame(
        [(i, "web" if i % 3 else "books") for i in range(3000)],
        "doc_id long, source string",
    )
    epochs = {"web": 0.3, "books": 2.25}
    out = repeat_epochs(docs, epochs, group_col="source", seed=11)

    # parallelism-independent, like sample_mixture
    out17 = repeat_epochs(docs.repartition(17), epochs, group_col="source", seed=11)
    key = lambda r: (r["doc_id"], r["epoch_idx"])
    rows = sorted(map(key, out.collect()))
    assert rows == sorted(map(key, out17.collect()))

    # for e <= 1 the kept doc SET equals sample_mixture at the same rate+seed
    web_ids = {r["doc_id"] for r in out.collect() if r["source"] == "web"}
    mix_ids = {
        r["doc_id"]
        for r in sample_mixture(
            docs.filter(F.col("source") == "web"), {"web": 0.3},
            group_col="source", seed=11,
        ).collect()
    }
    assert web_ids == mix_ids
    # fractional copies: every web doc appears exactly once (0.3 < 1)
    assert len([r for r in rows if r[0] in web_ids]) == len(web_ids)

    # books at 2.25: every doc has 2 or 3 copies with contiguous epoch_idx,
    # and the mean lands near 2.25
    from collections import Counter

    books = Counter(r[0] for r in rows if r[0] not in web_ids)
    n_books = 1000
    assert len(books) == n_books  # floor(e) >= 1 keeps every doc
    assert set(books.values()) <= {2, 3}
    mean = sum(books.values()) / n_books
    assert 2.15 < mean < 2.35
    idxs = {}
    for did, eidx in rows:
        idxs.setdefault(did, []).append(eidx)
    for did, lst in idxs.items():
        assert sorted(lst) == list(range(len(lst)))

    # default_epochs=0 drops absent groups; negative epochs raise
    assert out.filter(~F.col("source").isin("web", "books")).count() == 0
    import pytest as _pytest

    with _pytest.raises(ValueError):
        repeat_epochs(docs, {"web": -0.1}).collect()


# ---------------------------------------------------------------------------
# sample_weighted — Efraimidis–Spirakis A-ES
# ---------------------------------------------------------------------------
def _aes_python(ids_weights, k, seed):
    """Pure-python twin of corpus.sample_weighted's key formula."""
    import hashlib
    import math

    keyed = []
    for i, w in ids_weights:
        if w is None or w <= 0:
            continue
        hx = hashlib.md5(f"{i}:{seed}".encode()).hexdigest()[:12]
        u = (int(hx, 16) + 1.0) / float(16**12)
        keyed.append((round(math.log(u) / w, 6), i))
    keyed.sort(key=lambda t: (-t[0], t[1]))
    return [i for _, i in keyed[:k]]


def test_sample_weighted_matches_python_twin(spark):
    from srag_spark.operators.corpus import sample_weighted

    rows = [(i, float(1 + (i * 37) % 100)) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    for seed in (0, 7):
        got = [
            r["doc_id"]
            for r in sample_weighted(df, k=40, weight_col="w", seed=seed)
            .orderBy(F.desc("sample_key"), "doc_id")
            .collect()
        ]
        assert got == _aes_python(rows, 40, seed), seed


def test_sample_weighted_prefers_heavy_rows(spark):
    """Inclusion probability must scale with weight: rows with weight
    100 vs weight 1, k = half the corpus — the heavy half should take
    the overwhelming share of the sample (python twin over many seeds
    keeps the test one Spark job)."""
    from srag_spark.operators.corpus import sample_weighted

    rows = [(i, 100.0 if i < 50 else 1.0) for i in range(100)]
    heavy_share = []
    for seed in range(30):
        picked = _aes_python(rows, 20, seed)
        heavy_share.append(sum(1 for i in picked if i < 50) / 20)
    assert sum(heavy_share) / len(heavy_share) > 0.9
    # and one Spark run agrees exactly with the twin
    df = spark.createDataFrame(rows, "doc_id long, w double")
    got = {
        r["doc_id"]
        for r in sample_weighted(df, k=20, weight_col="w", seed=3).collect()
    }
    assert got == set(_aes_python(rows, 20, 3))


def test_sample_weighted_edges(spark):
    from srag_spark.operators.corpus import sample_weighted

    df = spark.createDataFrame(
        [(1, 2.0), (2, None), (3, 0.0), (4, -1.0), (5, 5.0)],
        "doc_id long, w double",
    )
    out = sample_weighted(df, k=10, weight_col="w", seed=0).collect()
    assert {r["doc_id"] for r in out} == {1, 5}  # ineligibles dropped
    import pytest as _pytest

    with _pytest.raises(ValueError):
        sample_weighted(df, k=0, weight_col="w")
    # partition independence
    big = spark.createDataFrame(
        [(i, float(i % 9 + 1)) for i in range(200)], "doc_id long, w double"
    )
    a = {r["doc_id"] for r in
         sample_weighted(big.repartition(1), 25, "w", seed=1).collect()}
    b = {r["doc_id"] for r in
         sample_weighted(big.repartition(16), 25, "w", seed=1).collect()}
    assert a == b


# ---------------------------------------------------------------------------
# pack_interleaved — multimodal packing over the north-rule span table
# ---------------------------------------------------------------------------
def _ildocs(spark):
    rows = [
        ("a", [("text", "one two three", None, 0),
               ("media", None, "blob://a1", 1),
               ("audio", "word", None, 2),
               ("text", "", None, 3)]),          # empty text → dropped
        ("b", [("media", None, "blob://b1", 0),
               ("text", "x y z w v", None, 1)]),
        ("c", []),                                # no spans → nothing
        ("d", [("media", None, "blob://d1", 0)]),
    ]
    return rows, spark.createDataFrame(
        rows,
        "doc_id string, spans array<struct<"
        "kind:string,text:string,media_ref:string,offset:int>>",
    )


def _il_reference(rows, budget, mc):
    stream, want = [], []
    for d, spans in sorted(rows):
        for i, (k, t, ref, _) in enumerate(spans):
            cost = len(t.split()) if t is not None else mc.get(k, mc[None])
            if cost > 0:
                stream.append((d, i, k, ref, cost))
    pos = 0
    for d, i, k, ref, c in stream:
        s0, e0 = pos, pos + c
        for w in range(s0 // budget, (e0 - 1) // budget + 1):
            want.append((d, i, k, ref, c, w,
                         max(s0, w * budget) - w * budget,
                         min(e0, (w + 1) * budget) - w * budget))
        pos = e0
    return want


def test_pack_interleaved_spec_and_partition_independence(spark):
    """Mixed text/audio/media costs cut at budget boundaries exactly as
    the sequential reference; identical at any parallelism."""
    from srag_spark.operators.corpus import pack_interleaved

    rows, df = _ildocs(spark)
    B = 5
    got = sorted(
        tuple(r) for r in pack_interleaved(df, B, default_media_cost=4).collect()
    )
    assert got == sorted(_il_reference(rows, B, {None: 4}))
    again = sorted(
        tuple(r)
        for r in pack_interleaved(
            df.repartition(7), B, default_media_cost=4, n_partitions=3
        ).collect()
    )
    assert again == got
    assert pack_interleaved(df.limit(0), B).count() == 0


def test_pack_interleaved_media_costs_and_manifest(spark):
    """Per-kind cost overrides; the media manifest lists each pack's
    refs in stream order, with a straddling blob in BOTH packs."""
    from srag_spark.operators.corpus import pack_interleaved, pack_media_manifest

    rows, df = _ildocs(spark)
    packed = pack_interleaved(
        df, 4, media_costs={"media": 6}, default_media_cost=99
    )
    got = sorted(tuple(r) for r in packed.collect())
    assert got == sorted(_il_reference(rows, 4, {"media": 6, None: 99}))
    # a1 costs 6 with budget 4 → straddles ≥2 packs → appears in each
    man = {
        r["pack_id"]: list(r["media_refs"])
        for r in pack_media_manifest(packed).collect()
    }
    holders = [p for p, refs in man.items() if "blob://a1" in refs]
    assert len(holders) >= 2
    # within-pack order follows pack_start: reconstruct from rows
    for p, refs in man.items():
        want = [
            (r[6], r[1], r[3]) for r in got if r[5] == p and r[3] is not None
        ]
        assert refs == [x[2] for x in sorted(want)]

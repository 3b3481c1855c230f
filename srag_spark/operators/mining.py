"""Retrieval-training-set mining: ICT pseudo-query pairs and
DPR-style hard negatives.

The engine's retrieval stack (operators/retrieval.py) serves an
embedder and a cross-encoder; at corpus scale those models are TRAINED
on pairs mined from the corpus itself.  Two public recipes, both
expressed as deterministic column work so a 100 TB mining run is one
linear pass (ICT) or one bounded candidate join (negatives):

* **ICT pairs** — the Inverse Cloze Task (Lee et al. 2019, "Latent
  Retrieval for Weakly Supervised Open Domain Question Answering"): a
  span of the document becomes the pseudo-query, the document WITHOUT
  that span becomes its positive passage.  The paper picks a sentence;
  this implementation picks a fixed-size word window (the same
  objective on unsegmented text — our normalized word arrays carry no
  sentence boundaries), selected by a seeded md5 draw so the pair set
  is a pure function of ``(doc_id, seed)`` — engine- and
  parallelism-independent, and reproducible in ANSI SQL (the driver
  oracle replays every pick).

* **Hard negatives** — the DPR/SBERT recipe (Karpukhin et al. 2020):
  for each (query vector, gold positive) pair, the top-k highest-cosine
  corpus vectors that are NOT the positive (nor in an optional
  per-query exclusion set, e.g. the positive's doc-mates), optionally
  dropping candidates within ``margin`` of the positive's own score —
  near-ties are more likely unlabeled positives than useful negatives
  (the false-negative filter every production mining pipeline applies).

Scale shape: ICT is row-local (zero shuffles).  Negative mining with
``method="brute"`` broadcasts the query set (mining runs on a bounded
batch of training queries, never corpus x corpus) and makes one linear
scored pass over the corpus embeddings; ``method="lsh"`` swaps the
candidate generator for the hyperplane-banded equi-join (the
``similarity.lsh_topk`` machinery) so the scan prunes to probe buckets.

Reference parity: none (the reference consumes trained models as HTTP
services); this is the data-production side of those services.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from srag_spark.functions.planning import spread_input
from srag_spark.operators.dedup import (
    dot_col,
    minhash_dedup_pairs,
    norm_text_col,
    words_col,
)


def ict_pairs(
    docs: DataFrame,
    query_words: int = 8,
    min_words: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """One (pseudo-query, positive passage) pair per eligible document.

    The document's normalized word array (``dedup.words_col`` — the
    dedup family's tokenization) is cut into ``floor(n / query_words)``
    full windows; window ``pick = md5(doc_id ':' seed) mod n_windows``
    becomes the query, and the passage is the document with that window
    excised.  Docs shorter than ``min_words`` words are skipped (a
    passage must retain at least one window's worth of context).

    Returns ``(doc_id, pick, query, passage)`` — row-local, zero
    shuffles, deterministic under any partitioning.
    """
    if query_words < 1:
        raise ValueError("query_words must be >= 1")
    if min_words < 2 * query_words:
        raise ValueError("min_words must be >= 2 * query_words")

    docs = spread_input(docs)  # guide §2.5; no-op at scale
    base = (
        docs.select(
            F.col(id_col).alias("doc_id"), words_col(F.col(text_col)).alias("_w")
        )
        .filter(F.size("_w") >= min_words)
    )
    n = F.size(F.col("_w"))
    n_windows = F.floor(n / F.lit(query_words)).cast("long")
    pick = F.pmod(
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("doc_id").cast("string"),
                        F.lit(":" + str(int(seed))),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long"),
        n_windows,
    ).cast("int")
    base = base.withColumn("pick", pick)
    start = F.col("pick") * F.lit(query_words) + F.lit(1)  # slice is 1-based
    query = F.array_join(F.slice("_w", start, F.lit(query_words)), " ")
    passage = F.array_join(
        F.concat(
            F.slice("_w", F.lit(1), start - F.lit(1)),
            F.slice("_w", start + F.lit(query_words), n),
        ),
        " ",
    )
    return base.select(
        "doc_id", "pick", query.alias("query"), passage.alias("passage")
    )


def paraphrase_pairs(
    docs: DataFrame,
    tau_lo: float = 0.5,
    tau_hi: float = 1.0,
    n_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    persisted: list | None = None,
) -> DataFrame:
    """Cross-document paraphrase-positive pairs for contrastive
    training (the SBERT paraphrase-mining recipe over MinHash instead
    of a trained encoder): unordered pairs whose banded-LSH candidate
    estimate lands in ``[tau_lo, tau_hi)`` — similar enough to be
    restatements, not so similar they are the exact/boilerplate
    duplicates the dedup path removes (an identical pair teaches a
    contrastive objective nothing).  Byte-identical normalized texts
    are excluded regardless of the estimate window.

    Complements :func:`ict_pairs`: ICT makes within-document positives,
    this makes cross-document ones.  Candidates come from the same
    banded equi-join as near-dup detection (never all-pairs); recall at
    low ``tau_lo`` is governed by (bands, rows-per-band) exactly as in
    dedup — the pair set is the deterministic banded candidate set
    filtered to the window, reproducible in SQL.

    Returns ``(doc_a, doc_b, est_jaccard)`` with ``doc_a < doc_b``.
    """
    if not tau_lo < tau_hi:
        raise ValueError("need tau_lo < tau_hi")
    pairs = minhash_dedup_pairs(
        docs, n_hashes, bands, shingle_n, text_col, id_col, persisted=persisted
    ).filter(
        (F.col("est_jaccard") >= F.lit(float(tau_lo)))
        & (F.col("est_jaccard") < F.lit(float(tau_hi)))
    )
    hashes = docs.select(
        F.col(id_col).alias("doc_id"),
        F.md5(norm_text_col(F.col(text_col))).alias("_th"),
    )
    return (
        pairs.join(
            hashes.select(F.col("doc_id").alias("doc_a"), F.col("_th").alias("_ha")),
            "doc_a",
        )
        .join(
            hashes.select(F.col("doc_id").alias("doc_b"), F.col("_th").alias("_hb")),
            "doc_b",
        )
        .filter(F.col("_ha") != F.col("_hb"))
        .select("doc_a", "doc_b", "est_jaccard")
    )


def mine_bitext(
    src: DataFrame,
    tgt: DataFrame,
    k: int = 4,
    threshold: float = 1.05,
    mutual: bool = True,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Margin-based parallel-pair mining between two embedding sets —
    the Artetxe & Schwenk (2019) ratio-margin criterion behind
    LASER/CCMatrix bitext mining, the recipe that builds translation
    training data from unaligned corpora.

    Raw cosine is a poor pair scorer in high-dimensional spaces (hubs
    score high against everything); the margin renormalizes each pair
    by its two neighborhoods::

        margin(x, y) = cos(x, y) /
                       (avg_k cos(x, NN_k(x in tgt)) / 2 +
                        avg_k cos(y, NN_k(y in src)) / 2)

    Each source keeps its best-margin target; pairs below ``threshold``
    drop; ``mutual=True`` additionally requires the target's
    best-margin source to be the same pair (the high-precision setting
    the paper reports).  Ties break by id everywhere, and the margin is
    computed in exact integer micro-units (scores quantized to 1e-6,
    neighborhood sums as integers, ONE final division) — float
    summation order can flip a 6th decimal between engines, integer
    arithmetic cannot, so the result is a pure function of the two
    embedding sets.

    Returns ``(src_id, tgt_id, score_r, margin_r)``.

    Scale shape: one scored cross relation (broadcast the smaller
    side — mining runs shard-pair by shard-pair, the sides are
    bounded by construction) reused by both neighborhood averages and
    both direction ranks; at full-corpus scale the cross relation
    swaps for the banded candidate join exactly as in
    :func:`mine_hard_negatives`.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    s = src.select(F.col(id_col).alias("src_id"), F.col(vec_col).alias("_sv"))
    t = tgt.select(F.col(id_col).alias("tgt_id"), F.col(vec_col).alias("_tv"))
    # scores quantized to integer micro-units: every downstream sum and
    # the margin numerator/denominator stay in exact integer arithmetic.
    # dim= selects the dim-unrolled codegen'd dot (bit-identical; see
    # dedup.dot_sql) — the fold form stays the dim-less fallback.
    from srag_spark.operators.dedup import dot_sql

    dot = (
        F.expr(dot_sql("_sv", "_tv", dim))
        if dim is not None
        else dot_col(F.col("_sv"), F.col("_tv"))
    )
    scored = s.crossJoin(F.broadcast(t)).select(
        "src_id",
        "tgt_id",
        F.round(dot * F.lit(1_000_000.0))
        .cast("long")
        .alias("_su"),
    )
    fwd_w = Window.partitionBy("src_id").orderBy(
        F.desc("_su"), F.asc("tgt_id")
    )
    bwd_w = Window.partitionBy("tgt_id").orderBy(
        F.desc("_su"), F.asc("src_id")
    )
    fwd_avg = (
        scored.withColumn("_r", F.row_number().over(fwd_w))
        .filter(F.col("_r") <= k)
        .groupBy("src_id")
        .agg(F.sum("_su").alias("_fs"), F.count(F.lit(1)).alias("_fc"))
    )
    bwd_avg = (
        scored.withColumn("_r", F.row_number().over(bwd_w))
        .filter(F.col("_r") <= k)
        .groupBy("tgt_id")
        .agg(F.sum("_su").alias("_bs"), F.count(F.lit(1)).alias("_bc"))
    )
    # margin = su / ((fs/fc)/2 + (bs/bc)/2) = 2*fc*bc*su / (fs*bc + bs*fc)
    # — one double division of exact integers, bit-identical anywhere
    denom = F.col("_fs") * F.col("_bc") + F.col("_bs") * F.col("_fc")
    margins = (
        scored.join(F.broadcast(fwd_avg), "src_id")
        .join(F.broadcast(bwd_avg), "tgt_id")
        .filter(denom != 0)
        .select(
            "src_id",
            "tgt_id",
            (F.col("_su") / F.lit(1_000_000.0)).alias("score_r"),
            F.round(
                (F.lit(2) * F.col("_fc") * F.col("_bc") * F.col("_su"))
                .cast("double")
                / denom.cast("double"),
                6,
            ).alias("margin_r"),
        )
    )
    m_fwd = Window.partitionBy("src_id").orderBy(
        F.desc("margin_r"), F.asc("tgt_id")
    )
    best = (
        margins.withColumn("_r", F.row_number().over(m_fwd))
        .filter((F.col("_r") == 1) & (F.col("margin_r") >= F.lit(float(threshold))))
        .drop("_r")
    )
    if not mutual:
        return best
    m_bwd = Window.partitionBy("tgt_id").orderBy(
        F.desc("margin_r"), F.asc("src_id")
    )
    best_bwd = (
        margins.withColumn("_r", F.row_number().over(m_bwd))
        .filter(F.col("_r") == 1)
        .select("src_id", "tgt_id")
    )
    return best.join(F.broadcast(best_bwd), ["src_id", "tgt_id"], "left_semi")


def mine_hard_negatives(
    emb: DataFrame,
    pairs: DataFrame,
    k_neg: int = 5,
    margin: float = 0.0,
    method: str = "brute",
    exclude: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 16,
    probes: int = 2,
    dim: int | None = None,
) -> DataFrame:
    """Top-``k_neg`` hard negatives per (query, positive) pair.

    ``pairs`` is ``(query_id, qvec, pos_id)`` — the training queries
    with their gold positives; ``emb`` is the corpus ``(vec_id,
    embedding)`` (unit-norm, dot = cosine).  ``exclude`` (optional) is
    extra per-query exclusions ``(query_id, vec_id)`` — e.g. every
    chunk of the positive's source document.

    A candidate survives when it is not the positive, not excluded,
    and its cosine is STRICTLY below ``pos_score - margin`` (ties with
    the positive are treated as unlabeled positives, the conservative
    default).  Survivors rank by (score desc, vec_id) — the hardest
    negatives first — and the top ``k_neg`` return as::

        (query_id, pos_id, neg_id, score_r, pos_score_r, rank)

    ``method="brute"`` scores the full corpus per query (exact — the
    oracle path); ``method="lsh"`` generates candidates from the
    multi-probe hyperplane buckets first (the corpus scan prunes to
    matching buckets; negatives missed by every probe are soft ones
    the miner did not want anyway).
    """
    q = pairs.select(
        F.col("query_id"),
        F.col("qvec").alias("_qv"),
        F.col("pos_id"),
    )
    corpus = emb.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_v")
    )
    if method == "brute":
        scored = corpus.crossJoin(F.broadcast(q))
    elif method == "lsh":
        from srag_spark.operators.similarity import (
            band_width,
            hyperplane_bucket_col,
            make_hyperplanes,
            probe_buckets_col,
        )

        if dim is None:
            raise ValueError('method="lsh" requires dim=')
        planes = make_hyperplanes(n_planes, dim)
        e_b = corpus.withColumn(
            "_bkt", hyperplane_bucket_col("_v", planes)
        )
        q_b = q.withColumn(
            "_pb",
            F.explode(
                probe_buckets_col(
                    hyperplane_bucket_col("_qv", planes), n_planes, probes
                )
            ),
        )
        scored = e_b.join(
            F.broadcast(q_b), e_b["_bkt"] == q_b["_pb"]
        ).drop("_bkt", "_pb")
    else:
        raise ValueError(f"unknown method {method!r}")

    from srag_spark.operators.dedup import dot_sql

    _dot = (
        (lambda a, b: F.expr(dot_sql(a, b, dim)))
        if dim is not None
        else (lambda a, b: dot_col(F.col(a), F.col(b)))
    )
    scored = scored.select(
        "query_id",
        "pos_id",
        "vec_id",
        F.round(_dot("_v", "_qv"), 6).alias("score_r"),
    )
    # the positive's score comes from the PAIR itself, never from the
    # candidate scan — under method="lsh" the positive may not land in
    # any probed bucket, and the margin gate must still see its score
    pos_scores = (
        q.join(
            emb.select(
                F.col(id_col).alias("pos_id"), F.col(vec_col).alias("_pv")
            ),
            "pos_id",
        )
        .select(
            "query_id",
            F.round(_dot("_pv", "_qv"), 6).alias(
                "pos_score_r"
            ),
        )
    )
    cands = (
        scored.filter(F.col("vec_id") != F.col("pos_id"))
        .join(F.broadcast(pos_scores), "query_id")
        .filter(
            F.col("score_r")
            < F.round(F.col("pos_score_r") - F.lit(float(margin)), 6)
        )
    )
    if exclude is not None:
        cands = cands.join(
            F.broadcast(exclude.select("query_id", "vec_id")),
            ["query_id", "vec_id"],
            "left_anti",
        )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_r"), F.asc("vec_id")
    )
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k_neg)
        .select(
            "query_id",
            "pos_id",
            F.col("vec_id").alias("neg_id"),
            "score_r",
            "pos_score_r",
            "rank",
        )
    )

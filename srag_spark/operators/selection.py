"""Data selection via importance resampling (DSIR, Xie et al. 2023 —
public spec): score every raw document by how much more likely its
hashed n-gram features are under a TARGET corpus distribution than
under the RAW corpus distribution, so a curation pipeline can resample
the raw pool toward the target domain (the standard recipe for steering
a 100 TB crawl toward a high-quality seed corpus).

Features are unigrams + bigrams of the frozen corpus lexer
(dedup.words_col), hashed into ``16**hash_chars`` buckets by md5 hex
prefix — the same engine-agnostic idiom the rest of the repo uses, so
the DuckDB oracle reproduces every bucket and every weight exactly.
Bucket distributions use add-``alpha`` smoothing over the full bucket
space.

Scale shape (the lm_perplexity/BM25-df pattern): one bounded
bucket-count pass per corpus (map-side-combinable groupBy whose output
is bounded by the BUCKET SPACE, 16^hash_chars rows, never corpus
size), the bounded counts pulled to the driver once to build the
log-ratio table (<= 16^hash_chars rows — the same driver transfer BM25
makes for its df table), and one linear scoring pass joining the
broadcast table.  Three linear corpus scans total, nothing quadratic.
The words array is PROJECTED to a physical column before any
higher-order function touches it — referencing ``words_col(text)``
inside a lambda would re-run the regexp lexer once per array index
(measured 10-40x on the bigram build), the classic expression-reuse
trap with Spark HOFs.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from srag_spark.functions.planning import held, in_threads, persist, spread_input
from srag_spark.operators.dedup import words_col


def dsir_features_col(words: "F.Column") -> "F.Column":
    """Unigram + bigram features over a MATERIALIZED words-array column
    (project ``words_col(text)`` to a real column first — see module
    docstring), as ``array<string>``.  Bigrams via zip_with over two
    shifted slices: O(n) per doc, no per-index array re-evaluation.
    Texts under 2 words contribute only their unigrams."""
    n = F.size(words)
    bigrams = F.when(
        n >= 2,
        F.zip_with(
            F.slice(words, 1, n - 1),
            F.slice(words, 2, n - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.concat(words, bigrams)


def dsir_bucket_col(feat_col, hash_chars: int) -> "F.Column":
    """Feature -> hashed bucket: the first ``hash_chars`` hex digits of
    md5(feature) — 16^hash_chars buckets, identical in DuckDB."""
    return F.substring(F.md5(feat_col), 1, hash_chars)


def _bucket_counts(docs: DataFrame, text_col: str, hash_chars: int) -> DataFrame:
    """(bucket, c): corpus feature counts per hashed bucket — one
    explode + one map-side-combinable groupBy, output bounded by the
    bucket space."""
    return (
        spread_input(docs)
        .select(words_col(F.col(text_col)).alias("_w"))
        .select(F.explode(dsir_features_col(F.col("_w"))).alias("feat"))
        .select(dsir_bucket_col(F.col("feat"), hash_chars).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("c"))
    )


def dsir_weights(
    docs: DataFrame,
    target: DataFrame,
    hash_chars: int = 3,
    alpha: float = 1.0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, n_feats, logw_r): per-document DSIR log importance
    weight — sum over the doc's hashed n-gram features of
    ``ln p_target(bucket) - ln p_raw(bucket)``, where both bucket
    distributions are add-``alpha`` smoothed over the full
    16^hash_chars bucket space.  ``docs`` is the raw pool being scored
    (it also defines the raw distribution — the DSIR setup); ``target``
    is the seed corpus whose distribution the resampler steers toward.

    High ``logw_r`` = target-like; the resampling step is a separate,
    composable concern (feed the weights to a Gumbel top-k or a
    threshold keep — :func:`srag_spark.operators.corpus.sample_mixture`
    handles deterministic rate-based keeps).  Feature-less docs carry
    the empty-product weight ``logw_r = 0``.

    Reference parity: no reference counterpart — an original
    implementation of the public DSIR recipe (hashed bag-of-ngrams
    importance weights), added for the training-data pipeline family.
    """
    # bounded: <= 16^hash_chars rows each — driver-safe by construction.
    # r6: the raw pool's feature-bucket relation is computed ONCE and
    # persisted — the raw-count pass and the scoring pass below both
    # consume it, where the previous shape re-ran the tokenize + n-gram
    # + md5 work per pass (the relation is skinny — id + 3-char bucket —
    # so MEMORY_AND_DISK beats recompute; at true corpus scale prefer a
    # committed intermediate table, plans.pipeline-style); the scores are
    # checkpointed before it is released.  The target pass is an
    # independent job submitted from a thread so its stages overlap the
    # raw pass's tail (guide §2.6); both threads keep the caller's job
    # group and tags (in_threads).
    with held() as ledger:
        feats = persist(
            spread_input(docs)
            .select(
                F.col(id_col).alias("doc_id"),
                words_col(F.col(text_col)).alias("_w"),
            )
            .select(
                "doc_id",
                F.explode_outer(dsir_features_col(F.col("_w"))).alias("feat"),
            )
            .withColumn("bucket", dsir_bucket_col(F.col("feat"), hash_chars)),
            ledger,
        )
        t_rows, r_rows = in_threads(
            docs.sparkSession,
            [
                lambda: _bucket_counts(target, text_col, hash_chars).collect(),
                lambda: feats.filter(F.col("bucket").isNotNull())
                .groupBy("bucket")
                .agg(F.count("*").alias("c"))
                .collect(),
            ],
        )
        t_counts = {r["bucket"]: r["c"] for r in t_rows}
        r_counts = {r["bucket"]: r["c"] for r in r_rows}

        b_space = float(16 ** hash_chars)
        t_denom = float(sum(t_counts.values())) + alpha * b_space
        r_denom = float(sum(r_counts.values())) + alpha * b_space
        lam0 = math.log(alpha / t_denom) - math.log(alpha / r_denom)

        spark = docs.sparkSession
        lam_rows = [
            (b,
             math.log((t_counts.get(b, 0) + alpha) / t_denom)
             - math.log((r_counts.get(b, 0) + alpha) / r_denom))
            for b in set(t_counts) | set(r_counts)
        ]
        lam = spark.createDataFrame(lam_rows, "bucket string, lam double")

        scored = (
            feats.join(F.broadcast(lam), "bucket", "left")
            .groupBy("doc_id")
            .agg(
                F.count("feat").alias("n_feats"),
                F.sum(
                    F.when(F.col("feat").isNotNull(),
                           F.coalesce("lam", F.lit(lam0)))
                ).alias("logw"),
            )
            .select(
                "doc_id",
                F.col("n_feats").cast("bigint").alias("n_feats"),
                F.round(F.coalesce("logw", F.lit(0.0)), 4).alias("logw_r"),
            )
        )
        return scored.localCheckpoint(eager=True)


def cluster_balanced_sample(
    emb: DataFrame,
    k_per_cluster: int,
    n_clusters: int = 16,
    dim: int | None = None,
    centroids: list | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    oversample: float = 4.0,
    persisted: list | None = None,
) -> DataFrame:
    """Cluster-balanced diversity sampling over an embedding column —
    the k-means-then-equal-quota selection recipe of DataComp-class
    curation and Vo et al. 2024 ("Automatic Data Curation for
    Self-Supervised Learning": cluster the pool, draw a FLAT quota per
    cluster so dominant modes — boilerplate, one mega-domain, one
    language register — cannot swamp the training budget the way an
    i.i.d. sample of a skewed corpus does).

    Composition of two existing audited pieces, no new distributed
    machinery:

      1. nearest-centroid assignment — the same row-local codegen'd
         argmax-of-literal-dots expression SemDeDup and IVF use
         (``similarity._centroid_dots_sql``; pass ``centroids=`` from
         ``similarity.train_centroids_kmeans`` for trained cells, or
         default to the deterministic hash-seeded ``make_centroids``);
      2. an EXACT ``k_per_cluster`` quota per cell via
         ``corpus.sample_stratified`` (md5(id:seed) rank — the selected
         set is a pure function of (ids, centroids, seed), independent
         of partitioning and engine; clusters with ≤ k members are
         returned whole).

    Returns ``(id, cell, csim_r, sample_rank)`` — ``csim_r`` is the
    rounded similarity-to-centroid (prototype closeness, useful for
    downstream inspection), ``sample_rank`` the 1-based hash rank
    within the cell.

    Scale shape: assignment is row-local (n_clusters × dim literal
    dots, whole-stage codegen); the sampler is a bounded cell census
    (≤ n_clusters rows to the driver), a row-local hex-threshold
    prefilter, and a per-cell top-k window over ~oversample·k
    survivors — never a full per-cell sort.  Nothing quadratic, no
    self-joins; malformed vectors (null / wrong dim) are dropped like
    the ANN operators do.
    """
    from srag_spark.operators.corpus import sample_stratified
    from srag_spark.operators.similarity import (
        ivf_assign_struct,
        make_centroids,
    )

    if dim is None:
        raise ValueError("cluster_balanced_sample requires an explicit dim=")
    cents = centroids if centroids is not None else make_centroids(n_clusters, dim)
    v = F.col(vec_col)
    # one assignment-struct evaluation per row (the shared SemDeDup/IVF
    # expression — cells agree by construction) over a spread scan
    assigned = (
        spread_input(emb)
        .filter(v.isNotNull() & (F.size(v) == dim))
        .select(F.col(id_col), ivf_assign_struct(vec_col, cents).alias("_a"))
        .select(
            id_col,
            F.col("_a.cell").alias("cell"),
            F.round(F.col("_a.csim"), 6).alias("csim_r"),
        )
    )
    return sample_stratified(
        assigned,
        k_per_cluster,
        group_col="cell",
        seed=seed,
        id_col=id_col,
        oversample=oversample,
        persisted=persisted,
    )

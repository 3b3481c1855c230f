"""Composed retrieval-trainset build: corpus → (query, positive,
hard negatives) triplets.

The mining operators (:mod:`srag_spark.operators.mining`) are each
individually oracle-checked; this plan is what a user actually runs to
produce an embedder/reranker training set from a raw document corpus,
the way ``plans.corpus_build`` composes the curation operators:

1. **ICT pairs** — per eligible doc, a pseudo-query window and its
   positive passage (Lee et al. 2019);
2. **embed** — query and passage through the engine's embedding UDF
   (the deterministic stub by default; a real model drops in via
   ``embed_fn``, the same injection contract as ``api.SragEngine``);
3. **hard negatives** — DPR-style top-k near-miss passages per query
   with the margin gate, mined against the PASSAGE side (so a query's
   own positive is the excluded gold, and every other doc's passage is
   fair game);
4. **assemble** — one row per (query, positive) with the ranked
   negative ids + texts collected into arrays, ready to feed a
   contrastive trainer (in-batch negatives come free at training time;
   these are the mined extras).

Scale shape: ICT is row-local; embedding is one Arrow-batched linear
pass per side; mining broadcasts the bounded query panel over one
linear passage scan (``method="lsh"`` swaps in the banded candidate
join); assembly is one groupBy over ≤ k rows per query.  Nothing
quadratic, no global sorts.

Reference parity: none — the reference consumes trained models; this
is the data side of training them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from srag_spark.functions.embedding import make_embed_udf
from srag_spark.functions.planning import held, persist
from srag_spark.operators.mining import ict_pairs, mine_hard_negatives


def build_retrieval_trainset(
    docs: DataFrame,
    k_neg: int = 4,
    margin: float = 0.0,
    query_words: int = 8,
    min_words: int = 16,
    seed: int = 0,
    method: str = "brute",
    embed_fn=None,
    text_col: str = "text",
    id_col: str = "doc_id",
    **mine_kwargs,
) -> DataFrame:
    """Returns one row per mined (query, positive) pair::

        (doc_id, query, passage, neg_ids: array<long>,
         neg_texts: array<string>, neg_scores: array<double>)

    ``neg_*`` arrays are rank-ordered (hardest first) and bounded by
    ``k_neg``; pairs whose query mined zero negatives are kept with
    empty arrays (in-batch negatives still train them).  The mined
    negative for doc X is another doc's PASSAGE — the query's own
    positive is the excluded gold, exactly the DPR construction.
    ``method``/``mine_kwargs`` pass through to
    :func:`operators.mining.mine_hard_negatives` (e.g. ``method="lsh",
    dim=..., n_planes=...`` for the banded scale path).
    """
    with held() as ledger:
        pairs = ict_pairs(
            docs,
            query_words=query_words,
            min_words=min_words,
            text_col=text_col,
            id_col=id_col,
            seed=seed,
        )
        pairs = persist(pairs, ledger)
        embed = make_embed_udf(embed_fn)
        emb = pairs.select(
            "doc_id",
            embed(F.col("query")).alias("qvec"),
            embed(F.col("passage")).alias("pvec"),
        )
        emb = persist(emb, ledger)
        corpus = emb.select(
            F.col("doc_id").alias("vec_id"), F.col("pvec").alias("embedding")
        )
        queries = emb.select(
            F.col("doc_id").alias("query_id"),
            "qvec",
            F.col("doc_id").alias("pos_id"),
        )
        mined = mine_hard_negatives(
            corpus,
            queries,
            k_neg=k_neg,
            margin=margin,
            method=method,
            **mine_kwargs,
        )
        # collect_list order is NOT shuffle-stable — collect (rank, ...)
        # structs and array_sort, the only order-deterministic form
        negs = (
            mined.groupBy("query_id")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("rank", "neg_id", "score_r"))
                ).alias("_n")
            )
            .select(
                "query_id",
                F.transform("_n", lambda s: s["neg_id"]).alias("neg_ids"),
                F.transform("_n", lambda s: s["score_r"]).alias("neg_scores"),
            )
        )
        neg_texts = (
            mined.select("query_id", "rank", F.col("neg_id").alias("doc_id"))
            .join(pairs.select("doc_id", "passage"), "doc_id")
            .groupBy("query_id")
            .agg(
                F.collect_list(F.struct("rank", "passage")).alias("_nt")
            )
            .select(
                "query_id",
                F.transform(
                    F.array_sort("_nt"), lambda s: s["passage"]
                ).alias("neg_texts"),
            )
        )
        out = (
            pairs.join(
                negs.withColumnRenamed("query_id", "doc_id"), "doc_id", "left"
            )
            .join(
                neg_texts.withColumnRenamed("query_id", "doc_id"),
                "doc_id",
                "left",
            )
            .select(
                "doc_id",
                "query",
                "passage",
                F.coalesce("neg_ids", F.array().cast("array<long>")).alias(
                    "neg_ids"
                ),
                F.coalesce(
                    "neg_texts", F.array().cast("array<string>")
                ).alias("neg_texts"),
                F.coalesce(
                    "neg_scores", F.array().cast("array<double>")
                ).alias("neg_scores"),
            )
        )
        # materialize before the ledger is released: the returned frame
        # must not read the released caches
        return out.localCheckpoint(eager=True)

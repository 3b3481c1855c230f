"""Byte-pair-encoding tokenizer training and application at corpus scale.

Training a tokenizer is one of the canonical whole-corpus jobs in a
training-data pipeline (every LLM corpus build runs one), and its scale
shape is well known: the corpus-sized work is ONE pass — the word-
frequency census — after which classic BPE (Sennrich et al. 2016,
"Neural Machine Translation of Rare Words with Subword Units") learns
merges on the *weighted word vocabulary*, a bounded aggregate.  We keep
exactly that split:

* :func:`word_frequencies` — the distributed pass: one map-side-
  combinable groupBy over the shared normalized tokenizer
  (``dedup.words_col``), optionally truncated to the top ``max_words``
  by (count desc, word asc) via ``TakeOrderedAndProject`` — the same
  bounded-aggregate-to-driver pattern as
  :func:`~srag_spark.operators.similarity.train_centroids_kmeans`
  (centroids) and the mixture-rate derivations (group censuses): only
  the vocabulary's (word, count) rows ever reach the driver, never row
  data.  Heavy-hitter truncation is the standard practice (subword
  learners train on capped word counts); the cap is the knob that
  bounds driver memory at 10^12 documents.
* :func:`learn_bpe` — exact, deterministic merge learning on that
  bounded table (pure Python, no Spark): repeatedly merge the adjacent
  symbol pair with the highest weighted count, ties broken
  lexicographically, stopping at ``n_merges`` or when the best pair
  drops below ``min_pair_count``.  Words carry a terminal ``</w>``
  marker so end-of-word units are distinct subwords (the Sennrich
  convention).
* :func:`apply_bpe` — the corpus-sized encode: an Arrow-batched pandas
  UDF applying the learned merge ranks with the greedy
  lowest-rank-first algorithm (the GPT-2 encoder loop), memoized per
  word within each batch — natural-language word frequencies are
  Zipfian, so the memo hit rate is enormous and the per-batch cost is
  ~O(distinct words).  Adds ``bpe_tokens array<string>`` and
  ``bpe_token_count``.

Training is genuinely iterative (each merge depends on the previous
one), so like the quality classifier there is no SQL oracle replay for
the learned merges; the driver entry is rows-only by design and the
semantics are pinned by golden fixtures (the paper's own
low/lower/newest/widest corpus) plus partition-independence tests.

Reference scope note: CyrilDesch/SRAG tokenizes only by whitespace
(TextPreparatorPipeline.scala:48-60) and counts tokens for chunk
budgets; a trained subword tokenizer is part of the training-corpus
additions (token budgets, packing lengths, mixture accounting are all
denominated in subword tokens in production).
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from srag_spark.functions.planning import spread_input

END_OF_WORD = "</w>"


def word_frequencies(
    docs: DataFrame,
    text_col: str = "text",
    max_words: int | None = None,
    min_count: int = 1,
) -> DataFrame:
    """The one corpus-sized pass: ``(word, count)`` over the shared
    normalized tokenizer, count desc / word asc, optionally truncated to
    the ``max_words`` heaviest words (TakeOrderedAndProject — never a
    global sort)."""
    from srag_spark.operators.dedup import words_col

    freqs = (
        docs.select(F.explode(words_col(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("count"))
    )
    if min_count > 1:
        freqs = freqs.filter(F.col("count") >= min_count)
    if max_words is not None:
        # orderBy+limit → TakeOrderedAndProject; without a cap the sort
        # is skipped entirely (learn_bpe re-aggregates and never depends
        # on input order)
        freqs = freqs.orderBy(F.desc("count"), F.asc("word")).limit(max_words)
    return freqs


def _symbols(word: str) -> tuple[str, ...]:
    return tuple(word) + (END_OF_WORD,)


def learn_bpe(
    word_counts: Iterable[tuple[str, int]],
    n_merges: int,
    min_pair_count: int = 2,
) -> list[tuple[str, str]]:
    """Exact Sennrich-style merge learning over a (word, count) table.
    Deterministic: the best pair each round is (weighted count desc,
    pair lexicographic asc); stops early when no pair reaches
    ``min_pair_count``.  Returns merges in learned order (rank =
    position)."""
    vocab: dict[tuple[str, ...], int] = {}
    for word, count in word_counts:
        if word:
            vocab[_symbols(word)] = vocab.get(_symbols(word), 0) + int(count)
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pair_counts: dict[tuple[str, str], int] = {}
        for syms, count in vocab.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pair_counts[p] = pair_counts.get(p, 0) + count
        if not pair_counts:
            break
        best = min(pair_counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        if pair_counts[best] < min_pair_count:
            break
        merges.append(best)
        merged = best[0] + best[1]
        new_vocab: dict[tuple[str, ...], int] = {}
        for syms, count in vocab.items():
            out: list[str] = []
            i = 0
            while i < len(syms):
                if (
                    i < len(syms) - 1
                    and syms[i] == best[0]
                    and syms[i + 1] == best[1]
                ):
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            key = tuple(out)
            new_vocab[key] = new_vocab.get(key, 0) + count
        vocab = new_vocab
    return merges


def train_bpe(
    docs: DataFrame,
    n_merges: int = 100,
    text_col: str = "text",
    max_words: int | None = 200_000,
    min_pair_count: int = 2,
) -> list[tuple[str, str]]:
    """Distributed pass + bounded exact learning, as one call.  Only the
    truncated (word, count) vocabulary reaches the driver."""
    rows = word_frequencies(
        docs, text_col=text_col, max_words=max_words
    ).collect()
    return learn_bpe(
        ((r["word"], r["count"]) for r in rows),
        n_merges=n_merges,
        min_pair_count=min_pair_count,
    )


def encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Greedy BPE encode of one word: repeatedly merge the adjacent pair
    with the LOWEST learned rank (leftmost occurrence first) until no
    adjacent pair is in the merge table — the GPT-2 encoder loop.
    Unknown characters pass through as single-character symbols."""
    syms = list(_symbols(word))
    while len(syms) > 1:
        best_rank = None
        best_i = -1
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_rank is None:
            break
        syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return syms


def apply_bpe(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
) -> DataFrame:
    """Encode every document with a learned merge list: adds
    ``bpe_tokens`` (the subword sequence over the normalized words, each
    word terminated by its ``</w>``-bearing final unit) and
    ``bpe_token_count``.  Arrow-batched pandas UDF with a per-batch
    word→tokens memo (Zipfian word reuse makes the memo the dominant
    path); the broadcast merge table is a plain closure capture —
    hundreds of pairs, not a join."""
    from srag_spark.operators.dedup import words_col

    ranks = {tuple(m): i for i, m in enumerate(merges)}

    @F.pandas_udf(ArrayType(StringType()))
    def encode(words: pd.Series) -> pd.Series:
        memo: dict[str, list[str]] = {}

        def enc(ws):
            if ws is None:
                return []
            out: list[str] = []
            for w in ws:
                toks = memo.get(w)
                if toks is None:
                    toks = encode_word(w, ranks)
                    memo[w] = toks
                out.extend(toks)
            return out

        return words.map(enc)

    # guide §2.5: the Python encoder's parallelism is the scan's
    # partition count; spread an under-partitioned input (no-op at scale)
    return spread_input(docs).withColumn(
        "bpe_tokens", encode(words_col(F.col(text_col)))
    ).withColumn("bpe_token_count", F.size("bpe_tokens"))


def merges_df(spark, merges: list[tuple[str, str]]) -> DataFrame:
    """The learned merge table as a DataFrame ``(rank, left, right)`` —
    persist it next to the corpus so every later job (packing, mixture
    accounting) tokenizes identically."""
    schema = StructType(
        [
            StructField("rank", IntegerType(), False),
            StructField("left", StringType(), False),
            StructField("right", StringType(), False),
        ]
    )
    return spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(merges)], schema
    )

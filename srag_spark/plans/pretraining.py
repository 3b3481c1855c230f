"""Tokenized-pretraining-dataset build: tokenizer → packed sequences →
training shards, as one composed plan.

:mod:`plans.corpus_build` ends at pack ASSIGNMENTS over whitespace
tokens (which doc lands in which window); a pretraining run consumes
the step after that — the actual fixed-length SUBWORD-token sequences,
sharded for the dataloader.  This plan composes the individually
verified stages into that last mile:

    BPE training (one word-frequency census pass + bounded exact merge
    learning, operators.bpe.train_bpe — or a caller-frozen ``merges``
    artifact)
      → corpus encode (Arrow-batched greedy lowest-rank UDF,
        operators.bpe.apply_bpe)
      → packing + materialization in SUBWORD space
        (operators.corpus.materialize_packs — pack_sequences'
        distributed prefix sum with ``count_col="bpe_token_count"``,
        then one co-keyed join-back + bounded per-pack assembly)
      → optional deterministic sharding to parquet
        (operators.corpus.write_shards keyed on ``pack_id``)

Feed it raw docs, or :func:`plans.corpus_build.build_training_corpus`
survivors for the fully curated path (curate → decontaminate → sample
→ tokenize → pack → shard).

Scale shape: training's corpus-sized work is ONE map-side-combinable
census (only the capped (word, count) vocabulary reaches the driver);
encoding is one linear Arrow pass; packing/materialization is one range
shuffle + one equi-join + one bounded groupBy (audited in
operators/corpus.py); sharding is one hash shuffle.  Nothing quadratic,
no global sorts, no driver row data.

Determinism: merges are a pure function of the corpus (ties broken
lexicographically), the pack stream is a pure function of (doc_id
order, merges), shard membership a pure function of (pack_id, seed) —
the written dataset is byte-identical at any parallelism.

Reference parity: none — CyrilDesch/SRAG tokenizes by whitespace only
(TextPreparatorPipeline.scala:48-60); this is the training-data side
the reference's corpus never reaches (SURVEY §8 additions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from srag_spark.operators.bpe import apply_bpe, train_bpe
from srag_spark.operators.corpus import materialize_packs, write_shards


def build_tokenized_dataset(
    docs: DataFrame,
    budget: int,
    merges: list[tuple[str, str]] | None = None,
    n_merges: int = 100,
    max_words: int | None = 200_000,
    min_pair_count: int = 2,
    path: str | None = None,
    n_shards: int = 8,
    shard_seed: int = 42,
    text_col: str = "text",
    id_col: str = "doc_id",
    persisted: list | None = None,
    with_spans: bool = True,
) -> dict:
    """Build the training-ready tokenized dataset.  Returns::

        {"packs":    DataFrame(pack_id, tokens array<string>,
                               doc_spans array<struct<doc_id,start,end>>,
                               n_tokens),
         "merges":   the BPE merge list used (trained here unless given),
         "manifest": write_shards' per-shard manifest dict, or None}

    ``doc_spans`` (default on) carries each document's [start, end)
    token range within its pack — the boundaries a trainer uses to
    reset attention masks and loss-mask across packed document joins;
    ``with_spans=False`` drops the column.

    Every pack holds exactly ``budget`` subword tokens except the final
    one.  Pass ``merges=`` to encode with a frozen tokenizer artifact
    (the production case: one corpus trains it, every later batch
    reuses it); otherwise one census pass trains it on ``docs`` with
    the ``max_words`` driver-memory cap.  With ``path=`` the packs are
    also written as ``n_shards`` deterministic parquet shards keyed on
    ``pack_id`` (directory-pruned ``shard_id=K/`` layout + row-count
    manifest).

    Persist lifecycle: the ``persisted=`` contract of
    :func:`~srag_spark.operators.corpus.materialize_packs` —
    ``persisted=None`` (tests/driver) materializes eagerly; at corpus
    scale pass ``persisted=[]``, consume, then ``planning.release``.
    """
    if merges is None:
        merges = train_bpe(
            docs,
            n_merges=n_merges,
            text_col=text_col,
            max_words=max_words,
            min_pair_count=min_pair_count,
        )
    enc = apply_bpe(docs, merges, text_col=text_col).select(
        id_col, "bpe_tokens"
    )
    packs = materialize_packs(
        enc, budget, tokens_col="bpe_tokens", id_col=id_col,
        persisted=persisted, with_spans=with_spans,
    )
    manifest = None
    if path is not None:
        manifest = write_shards(
            packs, path, n_shards, seed=shard_seed, id_col="pack_id"
        )
    return {"packs": packs, "merges": merges, "manifest": manifest}

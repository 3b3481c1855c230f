"""Exact substring deduplication — corpus-level repeated-span removal.

The ExactSubstr operation of Lee et al., *"Deduplicating Training Data
Makes Language Models Better"* (ACL 2022): any span of at least ``n``
tokens that appears more than once ACROSS THE WHOLE CORPUS is
duplication (licenses, navigation chrome, templated boilerplate) and is
cut from every occurrence but the first.  The reference pipeline has no
counterpart (its ingest ends at indexed retrieval); this is a
first-class training-data operator in the SURVEY §8 additions family,
approximating the paper's suffix-array match at token-window
granularity: a span is detected iff it contains a full ``n``-token
window that repeats — exactly the paper's minimum-length threshold
applied at window resolution, over the same whitespace token stream as
packing and decontamination (operators/corpus).

Scale shape: the token-window explode is the decontamination kernel
(``corpus.ngram_hash_col`` — linear in corpus tokens); duplicated
hashes come from one map-side-combinable groupBy over the window
stream; occurrences rejoin the duplicated-hash set through an inner
equi-join on the hash.  The corpus stream is deliberately computed
TWICE (once for the hash census, once for the join) rather than
persisted — pinning the exploded token windows executor-side at corpus
scale costs more than a second linear scan, the same two-pass trade
the DSIR and BM25 statistics passes make.  A boilerplate window
repeated millions of times is a hot join key; the build side is one
row per hash, which AQE's skew-join split handles (forcing a broadcast
would be wrong — the duplicated-hash relation is corpus-bounded, not
eval-bounded like decontamination's).  Per-doc interval math runs only
over MATCHED rows (rare by construction).  Nothing quadratic, nothing
driver-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from srag_spark.functions.planning import spread_input
from srag_spark.operators.corpus import ngram_hash_col


def _windows(docs: DataFrame, n: int, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, _pos, _h): every order-``n`` token window of every doc,
    0-based start position + md5 of the space-joined window."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(ngram_hash_col(F.col(text_col), n)).alias("_pos", "_h"),
    )


def duplicate_window_flags(
    docs: DataFrame,
    n: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 2,
    positions: bool = False,
) -> DataFrame:
    """Detect corpus-duplicated token windows.

    Returns, for EVERY input doc::

        (doc_id, n_windows, dup_windows, dup_tokens[, dup_positions])

    * ``n_windows`` — the doc's window count, ``max(0, tokens - n + 1)``
      (docs shorter than ``n`` tokens have none and are clean);
    * ``dup_windows`` — how many of its windows occur at least
      ``min_count`` times corpus-wide (ALL occurrences count, including
      repeats within one doc — the paper's any-second-occurrence rule);
    * ``dup_tokens`` — the size of the union of ``[p, p+n)`` over its
      duplicated window starts ``p``: the token mass inside duplicated
      regions.  Computed with one ``lag`` pass over the matched rows —
      each window past the first contributes ``min(n, gap)``;
    * ``positions=True`` adds ``dup_positions`` (sorted start indexes)
      for span-level consumers.

    This is the *census* half; :func:`strip_duplicate_spans` applies
    the keep-first-occurrence cut.
    """
    # guide §2.5 input-parallelism guard: the window explode expands a
    # small doc scan 10-50×; a 1-2-split file would serialize both the
    # census and the join pass (no-op at corpus scale)
    docs = spread_input(docs)
    toks = F.array_remove(F.split(F.col(text_col), r"\s+"), "")
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.greatest(F.lit(0), F.size(toks) - F.lit(n - 1))
        .cast("long")
        .alias("n_windows"),
    )
    win = _windows(docs, n, id_col, text_col)
    dup = (
        win.groupBy("_h")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") >= min_count)
        .select("_h")
    )
    matched = win.join(dup, "_h")
    w = Window.partitionBy("doc_id").orderBy("_pos")
    contrib = F.coalesce(
        F.least(F.lit(n), F.col("_pos") - F.lag("_pos").over(w)), F.lit(n)
    )
    hits = matched.select(
        "doc_id", "_pos", contrib.alias("_add")
    ).groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("dup_windows"),
        F.sum("_add").cast("long").alias("dup_tokens"),
        *(
            [F.sort_array(F.collect_list("_pos")).alias("dup_positions")]
            if positions
            else []
        ),
    )
    cols = [
        "doc_id",
        "n_windows",
        F.coalesce("dup_windows", F.lit(0).cast("long")).alias("dup_windows"),
        F.coalesce("dup_tokens", F.lit(0).cast("long")).alias("dup_tokens"),
    ]
    if positions:
        cols.append(
            F.coalesce("dup_positions", F.array().cast("array<int>")).alias(
                "dup_positions"
            )
        )
    return base.join(hits, "doc_id", "left").select(*cols)


def strip_duplicate_spans(
    docs: DataFrame,
    n: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 2,
) -> DataFrame:
    """Cut every duplicated window occurrence EXCEPT the corpus-wide
    first, and rebuild each doc's text from its surviving tokens.

    Frozen spec:

    * the first occurrence of a duplicated window is the one with the
      smallest ``(doc_id, position)`` (natural ordering of the id
      column) — it is kept; every other occurrence is cut;
    * token ``i`` of a doc is removed iff it lies inside ``[p, p+n)``
      for some cut window start ``p`` of that doc;
    * output text is the space-join of the surviving whitespace tokens
      — token-stream semantics (runs of whitespace collapse even in
      untouched docs), matching what packing/token counting consume.

    Returns ``(doc_id, text, n_tokens, n_removed)`` for EVERY doc
    (``n_tokens`` counts the doc's tokens BEFORE the cut).

    Plan: the hash census additionally carries ``min(struct(doc_id,
    pos))`` per duplicated hash (same single groupBy); cut positions
    per doc are interval-merged with one native ``aggregate`` over the
    sorted starts, and the rebuild filters the token array against the
    merged intervals — per-token work is bounded by the doc's MERGED
    interval count, not its raw cut count.
    """
    # both passes (census + join-back) and the token surgery inherit
    # this parallelism; no-op at corpus scale (guide §2.5)
    docs = spread_input(docs)
    win = _windows(docs, n, id_col, text_col)
    firsts = (
        win.groupBy("_h")
        .agg(
            F.count(F.lit(1)).alias("_c"),
            F.min(F.struct("doc_id", "_pos")).alias("_first"),
        )
        .filter(F.col("_c") >= min_count)
        .select("_h", "_first")
    )
    cuts = (
        win.join(firsts, "_h")
        .filter(
            ~(
                (F.col("doc_id") == F.col("_first.doc_id"))
                & (F.col("_pos") == F.col("_first._pos"))
            )
        )
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("_pos")).alias("_ps"))
    )
    return cut_token_windows(docs, cuts, n, id_col=id_col, text_col=text_col)


def merged_intervals_col(ps_col, n: int):
    """``array<struct<s,e>>`` of merged cut intervals from a SORTED
    array of window start positions (each start covers ``[p, p+n)``) —
    one native ``aggregate`` pass, no UDF."""
    return F.aggregate(
        ps_col,
        F.array().cast("array<struct<s:int,e:int>>"),
        lambda acc, p: F.when(
            (F.size(acc) > 0) & (p <= F.element_at(acc, -1)["e"]),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(
                    F.struct(
                        F.element_at(acc, -1)["s"].alias("s"),
                        F.greatest(
                            F.element_at(acc, -1)["e"], p + F.lit(n)
                        ).alias("e"),
                    )
                ),
            ),
        ).otherwise(
            F.concat(
                acc, F.array(F.struct(p.alias("s"), (p + F.lit(n)).alias("e")))
            )
        ),
    )


def cut_token_windows(
    docs: DataFrame,
    cuts: DataFrame,
    n: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Excise token windows from documents: ``cuts`` is ``(doc_id,
    _ps: sorted array<int>)`` of window START positions; token ``i`` of
    a doc is removed iff it lies inside ``[p, p+n)`` for some of its
    cut starts.  Returns ``(doc_id, text, n_tokens, n_removed)`` for
    EVERY input doc (``n_tokens`` counts tokens BEFORE the cut; docs
    absent from ``cuts`` pass through with ``n_removed = 0``).

    The shared text-surgery kernel of exact-substring dedup and
    span-level decontamination scrubbing: cut starts are interval-
    merged with one native ``aggregate``, and the rebuild filters the
    token array against the MERGED intervals — per-token work bounded
    by the merged interval count, not the raw cut count.  Row-local
    after the single co-keyed join; output text is the space-join of
    surviving whitespace tokens (token-stream semantics — what packing
    and token counting consume)."""
    toks = F.array_remove(F.split(F.col(text_col), r"\s+"), "")
    joined = (
        docs.select(F.col(id_col).alias("doc_id"), toks.alias("_t"))
        .join(cuts, "doc_id", "left")
        .select(
            "doc_id",
            "_t",
            F.coalesce(
                merged_intervals_col(F.col("_ps"), n),
                F.array().cast("array<struct<s:int,e:int>>"),
            ).alias("_iv"),
        )
    )
    kept = F.filter(
        F.col("_t"),
        lambda t, i: ~F.exists(
            F.col("_iv"), lambda m: (i >= m["s"]) & (i < m["e"])
        ),
    )
    return joined.select(
        "doc_id",
        F.array_join(kept, " ").alias("text"),
        F.size("_t").cast("long").alias("n_tokens"),
        (F.size("_t") - F.size(kept)).cast("long").alias("n_removed"),
    )

"""End-to-end corpus curation: the composed training-data pipeline.

The reference stores and retrieves documents; a training-data pipeline
over the same corpus additionally has to CURATE it.  This plan composes
the verified operator family into the canonical curation dataflow:

    language ID  →  quality gate  →  exact dedup  →  near-dup suppression

Every stage is a native DataFrame plan (no Python), so the composition
whole-stage-codegens and has an exact DuckDB twin (driver entry
``curate_corpus``).

Scale notes (100 TB):

* the two gates are INLINE per-row column expressions on the scan — one
  pass, zero joins, zero shuffles, and they shrink the corpus before any
  shuffle happens (language_pred_cols / quality_metric_cols, shared with
  the standalone operators);
* exact dedup is a window-min over ``md5(norm_text)`` — one shuffle on
  the hash key, no join-back, no second scan.  Skew boundary: a window
  partition holds every copy of one text, so this assumes per-text
  duplication stays processable (≲10⁷ copies; WindowExec spills).  For
  corpora with astronomically duplicated boilerplate, swap this stage
  for ``operators.dedup.exact_dedup`` (groupBy + join), whose map-side
  partial aggregation and AQE skew-join split the hot keys;
* the survivor set is persisted (``materialize=True``): the MinHash
  stage references it from multiple join sides, and without
  materialization Spark re-executes the whole upstream tree per
  reference.  At true 100 TB scale use :func:`curate_corpus_durable`,
  which writes the survivors to a manifest-committed bucketed table
  between the stages (the checkpointed-wave pattern of plans.pipeline)
  — same dataflow, durable midpoint, resumable restart;
* near-dup candidates come from the MinHash/LSH banded equi-join (never
  all-pairs);
* survivor selection defaults to GREEDY PAIR SUPPRESSION: drop the
  greater id of every near-dup pair (≥ threshold), keep the rest.  This
  is one anti-join — the standard scalable choice.  It over-keeps only
  chain-shaped clusters in which some non-minimal doc is smaller than
  ALL of its neighbors (e.g. 1—5—3: 3 is never a pair's greater id, so
  greedy keeps it; the cluster canonical is 1), which for high
  thresholds is rare and benign (it keeps a slightly-too-similar doc,
  never drops a unique one).  ``dedup_mode="cc"`` switches to full
  connected-components canonicalization
  (operators.dedup.cluster_canonical — iterative min-label propagation
  with pointer jumping over the pair graph), keeping exactly one doc
  per transitive near-dup cluster.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from srag_spark.sources import fsio
from srag_spark.sources.tables import read_table, upsert_by_key

from srag_spark.functions.planning import nondet_col, owns_ledger, persist, spread_input
from srag_spark.operators.dedup import (
    cluster_canonical,
    minhash_dedup_pairs,
    norm_text_col,
)
from srag_spark.operators.textstats import (
    language_pred_cols,
    quality_metric_cols,
)


@owns_ledger
def curate_corpus(
    docs: DataFrame,
    lang_whitelist: tuple[str, ...] = ("en",),
    min_quality: float = 0.45,
    n_hashes: int = 16,
    bands: int = 4,
    jaccard_tau: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    materialize: bool = True,
    persisted: list | None = None,
    dedup_mode: str = "greedy",
) -> DataFrame:
    """(doc_id, text, pred_lang, quality_r) — the curated survivors.

    A doc survives iff its predicted language is whitelisted, its
    composite quality score ≥ ``min_quality``, it is the canonical (min
    id) copy of its exact-duplicate group, and it survives near-dup
    suppression over the MinHash pair graph (est. Jaccard ≥
    ``jaccard_tau``) under the chosen ``dedup_mode``:

    * ``"greedy"`` (default): drop the greater id of every near-dup pair
      — one anti-join, zero iteration; over-keeps chain clusters (see
      module docstring);
    * ``"cc"``: full connected-components canonicalization
      (operators.dedup.cluster_canonical) — keep only the MIN id of each
      transitive near-dup cluster; O(log diameter) label-propagation
      rounds over the pair graph only.

    ``materialize`` persists the post-dedup survivor set
    (MEMORY_AND_DISK) because the near-dup stage consumes it from three
    join sides; pass False to keep the plan fully lazy (small inputs /
    single-shot EXPLAIN), or pass a ``persisted`` list and call
    ``functions.planning.release`` after the consuming action."""
    uniq = gate_and_exact_dedup(
        docs, lang_whitelist, min_quality, text_col, id_col
    )
    if materialize:
        uniq = persist(uniq, persisted)
    return suppress_neardups(
        uniq, n_hashes, bands, jaccard_tau, dedup_mode,
        materialize=materialize, persisted=persisted,
    )


def gate_and_exact_dedup(
    docs: DataFrame,
    lang_whitelist: tuple[str, ...],
    min_quality: float,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Stage 1: inline language/quality gates on the scan + window-min
    exact dedup (one shuffle).  Lazy — callers persist or table-write."""
    text = F.col(text_col)
    pred_lang, _hits = language_pred_cols(text)
    quality = quality_metric_cols(text)["quality_r"]
    # guide §2.5: the gate expressions are the curation scan's dominant
    # per-row cost; spread an under-partitioned input (no-op at scale).
    # The gate struct is computed ONCE in a projection ABOVE the spread
    # exchange and pinned there with nondet_col — without the pin,
    # Catalyst substitutes the keep-predicate through the projection and
    # splits its conjuncts through the repartition onto the serialized
    # scan side, evaluating the full marker/quality expressions once in
    # every union branch's scan filter AND again in the project (r6
    # measured at sfx10: 5.3 s → 1.15 s with the filter pinned, 0.65 s
    # with the single-evaluation struct below).
    docs = spread_input(docs)
    gate = nondet_col(
        F.struct(
            pred_lang.alias("pred_lang"), quality.alias("quality_r")
        )
    )
    gated = (
        docs.select(
            F.col(id_col).alias("doc_id"), text.alias("text"), gate.alias("_g")
        )
        .filter(
            # field accesses on the pinned struct attribute — the
            # expensive expressions behind them evaluated once, above
            F.col("_g.pred_lang").isin(*lang_whitelist)
            & (F.col("_g.quality_r") >= F.lit(float(min_quality)))
        )
        .select(
            "doc_id",
            "text",
            F.col("_g.pred_lang").alias("pred_lang"),
            F.col("_g.quality_r").alias("quality_r"),
        )
    )
    w = Window.partitionBy(F.md5(norm_text_col(F.col("text"))))
    return (
        gated.withColumn("_cid", F.min("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("_cid"))
        .drop("_cid")
    )


@owns_ledger
def suppress_neardups(
    uniq: DataFrame,
    n_hashes: int,
    bands: int,
    jaccard_tau: float,
    dedup_mode: str,
    materialize: bool = True,
    persisted: list | None = None,
) -> DataFrame:
    """Stage 2: MinHash/LSH pair graph + greedy or connected-components
    suppression over the exact-dedup survivors."""
    near = minhash_dedup_pairs(
        uniq, n_hashes=n_hashes, bands=bands,
        materialize=materialize, persisted=persisted,
    ).filter(
        F.col("est_jaccard") >= F.lit(float(jaccard_tau))
    )
    if dedup_mode == "greedy":
        drop = near.select(F.col("doc_b").alias("doc_id")).distinct()
    elif dedup_mode == "cc":
        canon = cluster_canonical(near)
        drop = canon.filter(F.col("doc_id") != F.col("canonical_id")).select(
            "doc_id"
        )
    else:
        raise ValueError(f"dedup_mode must be 'greedy' or 'cc', got {dedup_mode!r}")
    return uniq.join(drop, "doc_id", "left_anti").select(
        "doc_id", "text", "pred_lang", "quality_r"
    )


def curate_corpus_durable(
    spark,
    docs: DataFrame,
    work_dir: str,
    lang_whitelist: tuple[str, ...] = ("en",),
    min_quality: float = 0.45,
    n_hashes: int = 16,
    bands: int = 4,
    jaccard_tau: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    dedup_mode: str = "greedy",
    n_buckets: int = 64,
) -> DataFrame:
    """Curation with a DURABLE midpoint — the 100 TB form of
    :func:`curate_corpus` (its own scale note recommends exactly this):
    the gate + exact-dedup survivor set is written to a manifest-committed
    bucketed table (``{work_dir}/survivors``) instead of ``persist()``,
    and the near-dup stage reads it back from storage.  Consequences:

    * the multi-consumer near-dup joins re-read a compact columnar table,
      not executor block caches — no recompute storm on executor loss,
      no session-lifetime cache;
    * a crash between the stages resumes WITHOUT re-running the gates or
      the exact-dedup shuffle: the completion marker (written through the
      FS API after the table commit) gates stage 1, the wave/checkpoint
      pattern of plans.pipeline applied at stage granularity;
    * replaying stage 1 after a partial failure converges (the table
      write is an idempotent keyed upsert, J7).
    """
    surv_path = f"{work_dir}/survivors"
    marker = f"{work_dir}/_survivors_done.json"
    if not fsio.exists(spark, marker):
        uniq = gate_and_exact_dedup(
            docs, lang_whitelist, min_quality, text_col, id_col
        )
        upsert_by_key(spark, surv_path, uniq, ["doc_id"], n_buckets=n_buckets)
        fsio.write_text(
            spark, marker, json.dumps({"stage": "survivors", "status": "done"})
        )
    survivors = read_table(spark, surv_path)
    return suppress_neardups(
        survivors, n_hashes, bands, jaccard_tau, dedup_mode, materialize=False
    )

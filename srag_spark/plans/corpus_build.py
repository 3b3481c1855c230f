"""End-to-end training-corpus build: the composed 100 TB pipeline.

What a pretraining-data user actually runs over a raw corpus is not one
operator but the whole chain (VERDICT r4 next-round #5); this plan
composes the individually oracle-verified stages into one dataflow:

    curation (lang gate → quality gate → exact dedup → near-dup
    suppression, plans.curation)
      → benchmark decontamination (13-gram eval-overlap scrub,
        operators.corpus.find_contamination)
      → optional PII redaction (``pii_scrub=True``: operators.pii
        email/IPv4/phone scrub — after gates/dedup/decontam judge the
        original text, before token counts see the redacted text)
      → mixture sampling (deterministic per-group hash rates,
        operators.corpus.sample_mixture)
      → sequence packing (distributed prefix-sum token windows,
        operators.corpus.pack_sequences)

Scale shape (each stage audited in its own module; the composition adds
nothing new to shuffle):

* curation's gates run inline on the scan; its near-dup stage is the
  banded LSH equi-join;
* decontamination joins the curated survivors against a BROADCAST eval
  hash set; the contaminated-id anti-join rejects null-extended rows,
  which Catalyst recognizes and the outer join collapses to inner —
  nothing is computed for clean docs beyond the window explode;
* mixture sampling is row-local (zero shuffles);
* packing is one range shuffle + per-partition window + P driver
  carries; the attribute join-back is co-keyed on doc_id.

:func:`build_training_corpus` is the in-memory composition (one lazy
plan, survivor sets persisted via the shared ``persisted`` ledger);
:func:`build_training_corpus_durable` is the restartable form — each
stage commits a manifest table under ``work_dir`` with a completion
marker, so a driver loss resumes from the last finished stage without
recomputing the LSH join or the window explode (the stage-granular
wave/checkpoint pattern of plans.pipeline, like curate_corpus_durable).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from srag_spark.functions.planning import held, owns_ledger, persist
from srag_spark.operators.corpus import (
    derive_mixture_rates,
    find_contamination,
    pack_sequences,
    sample_mixture,
    scrub_contamination,
)
from srag_spark.operators.pii import pii_cols
from srag_spark.plans.curation import curate_corpus
from srag_spark.sources import fsio
from srag_spark.sources.tables import read_table, upsert_by_key

#: output columns of the composed build (packing assignment + per-doc
#: curation/mixture attributes)
BUILD_COLUMNS = (
    "doc_id", "pred_lang", "quality_r", "weight",
    "n_tokens", "pack_id", "pack_start", "pack_end",
)


@owns_ledger
def build_training_corpus(
    docs: DataFrame,
    eval_docs: DataFrame,
    rates: dict[str, float] | tuple,
    budget: int,
    lang_whitelist: tuple[str, ...] = ("en",),
    min_quality: float = 0.45,
    n_hashes: int = 16,
    bands: int = 4,
    jaccard_tau: float = 0.5,
    dedup_mode: str = "greedy",
    decontam_n: int = 13,
    decontam_mode: str = "drop",
    exact_substr_n: int | None = None,
    group_col: str = "pred_lang",
    seed: int = 42,
    default_rate: float = 0.0,
    pii_scrub: bool = False,
    url_col: str | None = None,
    url_blocklist=(),
    url_word_weights: dict | None = None,
    url_threshold: float = 1.0,
    persisted: list | None = None,
) -> DataFrame:
    """(doc_id, pred_lang, quality_r, weight, n_tokens, pack_id,
    pack_start, pack_end) — one row per (surviving doc, training window
    it lands in).

    A doc reaches the output iff it passes the optional URL gate
    (``url_col=`` applies operators.urlfilter FIRST — the cheapest
    filter runs before any text is tokenized), survives curation
    (plans.curation.curate_corpus semantics), clears decontamination —
    ``decontam_mode="drop"`` (default) removes any doc with a
    ``decontam_n``-gram eval overlap, ``"scrub"`` keeps every doc with
    the leaked regions excised (corpus.scrub_contamination) — and
    survives its ``group_col`` group's mixture rate (weight =
    1/rate).  Survivors are packed into fixed-``budget`` token windows
    in doc_id order (pack_sequences' frozen spec).

    ``rates`` may instead be a mixture SPEC — ``("temperature",
    budget_tokens, T)`` or ``("unimax", budget_tokens, epoch_cap)`` —
    in which case per-group keep rates are derived from the clean
    survivor set itself (:func:`srag_spark.operators.corpus.
    derive_mixture_rates`): deriving on the raw input would allocate
    budget to docs curation already dropped.

    Persist lifecycle: the curated survivor set feeds the contamination
    windows, the anti-join, and the downstream chain, so it is persisted
    (appended to ``persisted`` when given, else released before return
    per the functions.planning contract).
    """
    if url_col is not None:
        docs = _apply_url_gate(
            docs, url_col, url_blocklist, url_word_weights, url_threshold
        )
    curated = curate_corpus(
        docs,
        lang_whitelist=lang_whitelist,
        min_quality=min_quality,
        n_hashes=n_hashes,
        bands=bands,
        jaccard_tau=jaccard_tau,
        dedup_mode=dedup_mode,
        materialize=True,
        persisted=persisted,
    )
    curated = persist(curated, persisted)
    clean = _apply_decontam(curated, eval_docs, decontam_n, decontam_mode)
    if exact_substr_n is not None:
        # the window census + cut read `clean` twice; pin it first
        clean = persist(clean, persisted)
        clean = _strip_substrings(clean, exact_substr_n)
    if pii_scrub:
        clean = _scrub_text(clean)
    if isinstance(rates, tuple):
        # mixture spec, not explicit rates: derive on the clean
        # (post-curation, post-decontam, post-scrub) survivor set —
        # the population the sampler actually draws from, with the
        # token accounting the trainer will see
        clean = persist(clean, persisted)
        rates = derive_mixture_rates(clean, rates, group_col=group_col)
    sampled = sample_mixture(
        clean, rates, group_col=group_col, seed=seed,
        default_rate=default_rate,
    )
    sampled = persist(sampled, persisted)
    return _pack_with_attrs(sampled, budget, persisted=persisted)


def _apply_url_gate(
    docs: DataFrame, url_col: str, blocklist, weights, threshold: float
) -> DataFrame:
    """URL gate (operators.urlfilter) at the very front of the build —
    the cheapest filter runs before any text is tokenized.  Row-local
    with a bounded blocklist (a blocklist TABLE adds one broadcast
    join), so it fuses into the curation scan; original columns flow
    through unchanged."""
    from srag_spark.operators.urlfilter import url_filter_flags

    flagged = url_filter_flags(
        docs,
        blocked_domains=blocklist,
        word_weights=weights,
        threshold=threshold,
        url_col=url_col,
    )
    return flagged.filter(F.col("keep")).select(*docs.columns)


def _strip_substrings(clean: DataFrame, n: int) -> DataFrame:
    """ExactSubstr stage (operators.substrings): cut every
    corpus-duplicated order-``n`` token window occurrence except the
    corpus-wide first, keeping the docs.  Placement: AFTER doc-level
    dedup and decontamination (both judge the original text) and BEFORE
    the PII scrub — redaction placeholders (``<PHONE>`` etc.) would
    otherwise manufacture artificial repeated windows and cut real
    content around them."""
    from srag_spark.operators.substrings import strip_duplicate_spans

    stripped = strip_duplicate_spans(clean, n=n).select("doc_id", "text")
    return clean.drop("text").join(stripped, "doc_id")


def _scrub_text(clean: DataFrame) -> DataFrame:
    """Replace ``text`` with its PII-redacted form (operators.pii) —
    row-local column work on the flowing frame, zero shuffles, no join.

    Stage placement (the RefinedWeb/CCNet order): AFTER curation and
    decontamination — gates, dedup signatures and eval n-gram overlap
    are judged on the original text — and BEFORE packing, so token
    counts and window boundaries reflect what a trainer actually sees
    (``"call +1 (555) 0123"`` is 4 whitespace tokens raw but 1 token
    — ``<PHONE>`` — redacted)."""
    return clean.withColumn("text", pii_cols(F.col("text"))["text_redacted"])


def _apply_decontam(
    curated: DataFrame, eval_docs: DataFrame, n: int, mode: str
) -> DataFrame:
    """Dispatch the decontamination stage: ``"drop"`` removes any doc
    with an eval n-gram overlap (the conservative whole-doc scrub);
    ``"scrub"`` keeps every doc but excises the leaked regions
    (corpus.scrub_contamination — span-level surgery; token counts and
    packing then see the scrubbed text)."""
    if mode == "drop":
        return _decontaminate(curated, eval_docs, n)
    if mode == "scrub":
        scrubbed = scrub_contamination(curated, eval_docs, n=n).select(
            "doc_id", "text"
        )
        return curated.drop("text").join(scrubbed, "doc_id")
    raise ValueError(f"decontam_mode must be 'drop' or 'scrub', got {mode!r}")


def _decontaminate(curated: DataFrame, eval_docs: DataFrame, n: int) -> DataFrame:
    """Drop curated docs with any order-``n`` token-window overlap with
    the eval set.  The coalesce(...)>0 filter rejects the left join's
    null-extended rows, so Catalyst collapses it to an inner join and
    the anti-join moves only contaminated ids."""
    cont = (
        find_contamination(curated, eval_docs, n=n)
        .filter(F.col("contaminated"))
        .select("doc_id")
    )
    return curated.join(cont, "doc_id", "left_anti")


def _pack_with_attrs(
    sampled: DataFrame, budget: int, persisted: list | None
) -> DataFrame:
    """Pack the sampled survivors and join each window row back to its
    doc's curation/mixture attributes (co-keyed on doc_id)."""
    packed = pack_sequences(sampled, budget, persisted=persisted)
    attrs = sampled.select("doc_id", "pred_lang", "quality_r", "weight")
    return packed.join(attrs, "doc_id").select(*BUILD_COLUMNS)


# ---------------------------------------------------------------------------
# durable, resumable form
# ---------------------------------------------------------------------------
_STAGES = ("curated", "clean", "packed")


def build_training_corpus_durable(
    spark,
    docs: DataFrame,
    eval_docs: DataFrame,
    work_dir: str,
    rates: dict[str, float] | tuple,
    budget: int,
    lang_whitelist: tuple[str, ...] = ("en",),
    min_quality: float = 0.45,
    n_hashes: int = 16,
    bands: int = 4,
    jaccard_tau: float = 0.5,
    dedup_mode: str = "greedy",
    decontam_n: int = 13,
    decontam_mode: str = "drop",
    exact_substr_n: int | None = None,
    group_col: str = "pred_lang",
    seed: int = 42,
    default_rate: float = 0.0,
    pii_scrub: bool = False,
    url_col: str | None = None,
    url_blocklist=(),
    url_word_weights: dict | None = None,
    url_threshold: float = 1.0,
    n_buckets: int = 64,
    stop_after: str | None = None,
) -> DataFrame:
    """Stage-resumable :func:`build_training_corpus`: each stage writes a
    manifest-committed bucketed table under ``work_dir`` and a completion
    marker (FS API, after the table commit), so a restarted run skips
    every finished stage — at 100 TB the LSH pair join and the n-gram
    window explode are each hours of cluster time that a driver loss
    must not repeat.  Replaying a half-written stage converges (the
    table write is an idempotent keyed upsert, J7).

    ``stop_after`` ends the run after the named stage ("curated",
    "clean", "packed") — the crash-injection hook for resume tests, and
    a practical operator knob (run curation today, pack tomorrow).
    Returns the packed output table (or the last completed stage's table
    when stopped early).
    """
    if stop_after is not None and stop_after not in _STAGES:
        raise ValueError(f"stop_after must be one of {_STAGES}, got {stop_after!r}")

    def path(stage):
        return f"{work_dir}/{stage}"

    def marker(stage):
        return f"{work_dir}/_{stage}_done.json"

    def done(stage):
        return fsio.exists(spark, marker(stage))

    def finish(stage):
        fsio.write_text(
            spark, marker(stage), json.dumps({"stage": stage, "status": "done"})
        )

    if not done("curated"):
        if url_col is not None:
            docs = _apply_url_gate(
                docs, url_col, url_blocklist, url_word_weights, url_threshold
            )
        with held() as ledger:
            curated = curate_corpus(
                docs,
                lang_whitelist=lang_whitelist,
                min_quality=min_quality,
                n_hashes=n_hashes,
                bands=bands,
                jaccard_tau=jaccard_tau,
                dedup_mode=dedup_mode,
                materialize=True,
                persisted=ledger,
            )
            upsert_by_key(
                spark, path("curated"), curated, ["doc_id"], n_buckets=n_buckets
            )
        finish("curated")
    if stop_after == "curated":
        return read_table(spark, path("curated"))

    if not done("clean"):
        curated = read_table(spark, path("curated"))
        clean = _apply_decontam(curated, eval_docs, decontam_n, decontam_mode)
        if exact_substr_n is not None:
            clean = _strip_substrings(clean, exact_substr_n)
        if pii_scrub:
            # scrub inside the stage so the committed artifact is the
            # redacted text — a resumed run (or any downstream consumer
            # of the clean table) never sees raw PII
            clean = _scrub_text(clean)
        upsert_by_key(spark, path("clean"), clean, ["doc_id"], n_buckets=n_buckets)
        finish("clean")
    if stop_after == "clean":
        return read_table(spark, path("clean"))

    if not done("packed"):
        clean = read_table(spark, path("clean"))
        if isinstance(rates, tuple):
            # derived on the committed clean table: a resumed run reads
            # the identical population, so the rates (and the sample)
            # reproduce exactly
            rates = derive_mixture_rates(clean, rates, group_col=group_col)
        sampled = sample_mixture(
            clean, rates, group_col=group_col, seed=seed,
            default_rate=default_rate,
        )
        with held() as ledger:
            sampled = persist(sampled, ledger)
            packed = _pack_with_attrs(sampled, budget, persisted=ledger)
            upsert_by_key(
                spark, path("packed"), packed, ["doc_id", "pack_id"],
                n_buckets=n_buckets,
            )
        finish("packed")
    return read_table(spark, path("packed"))

"""PII redaction — the scrub stage of a training-data pipeline.

Every production pretraining pipeline (CCNet, RefinedWeb, FineWeb,
Dolma) redacts personally identifiable information before training;
the reference stores raw user transcripts (srag-domain Transcript), so
an engine feeding its corpus into training needs this stage.  Three
detector classes, all NATIVE regex column expressions (regexp_count +
regexp_replace — JVM-side, whole-stage codegen, zero shuffles, zero
Python):

* **email** — ``local@domain.tld`` mailbox pattern;
* **ipv4**  — dotted quads (``\\b``-anchored; octet ranges NOT
  validated — "999.1.1.1" redacts too, the conservative choice for a
  scrub);
* **phone** — aggressive digit-run matcher (optional ``+``, then
  digits/spaces/parens/hyphens): deliberately overcaptures formatted
  numbers at the cost of also hitting dates/ids — for a PII scrub,
  recall beats precision.  Swap the pattern for a region-aware matcher
  where precision matters.

Stages apply in order (email → ipv4 → phone), each counting and
redacting on the PREVIOUS stage's output, so a digit run inside an
already-redacted email is not double-counted as a phone.  Patterns are
deliberately RE2-safe (no lookaround, no backreferences) and chosen so
Java's leftmost-greedy and RE2's leftmost-longest semantics select the
SAME spans — the DuckDB oracle (driver entry ``text_pii_scrub``)
reproduces every redaction byte-for-byte.

Scale shape: row-local map work on the scan — the ideal 100 TB plan
(like sample_mixture); composes inline with the curation gates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from srag_spark.functions.planning import spread_input

#: (name, RE2-safe pattern, replacement token) applied in order.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\+?\d[\d ()-]{6,}\d", "<PHONE>"),
)


def pii_cols(text_col: "F.Column") -> dict[str, "F.Column"]:
    """Per-class hit counts and the fully redacted text, as reusable
    column expressions (the inline-gate pattern of
    textstats.quality_metric_cols — composes into any scan)."""
    cols: dict[str, F.Column] = {}
    cur = text_col
    for name, pat, token in PII_PATTERNS:
        cols[f"n_{name}"] = F.regexp_count(cur, F.lit(pat))
        cur = F.regexp_replace(cur, pat, token)
    cols["text_redacted"] = cur
    return cols


def scrub_pii(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, text_redacted, n_email, n_ipv4, n_phone, has_pii) — one
    row per input doc, PII spans replaced by class tokens."""
    cols = pii_cols(F.col(text_col))
    # NULL text must yield 0-count / has_pii=false (not NULL): a
    # downstream keep-filter on ~has_pii silently DROPS null verdicts,
    # which at corpus scale loses every null-text doc.
    #
    # r6: the detector chain is computed ONCE per row into a struct and
    # unpacked in a second projection — the counts feed both their own
    # output columns and has_pii, and each extra reference re-ran its
    # whole stage-chained regex prefix; the scan is also spread (guide
    # §2.5, no-op at scale).
    return (
        spread_input(docs)
        .select(
            F.col(id_col).alias("doc_id"),
            F.struct(
                cols["text_redacted"].alias("t"),
                *[
                    F.coalesce(cols[k].cast("int"), F.lit(0)).alias(k)
                    for k in ("n_email", "n_ipv4", "n_phone")
                ],
            ).alias("_p"),
        )
        .select(
            "doc_id",
            F.col("_p.t").alias("text_redacted"),
            F.col("_p.n_email").alias("n_email"),
            F.col("_p.n_ipv4").alias("n_ipv4"),
            F.col("_p.n_phone").alias("n_phone"),
            (
                F.col("_p.n_email") + F.col("_p.n_ipv4") + F.col("_p.n_phone")
                > 0
            ).alias("has_pii"),
        )
    )

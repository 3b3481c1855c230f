"""Distributed main-content extraction (the north-rule core).

The per-document kernel is the frozen golden parser
(``srag_spark.golden.extract_document_cols`` — P1 text word spans, P11
HTML block scoring, P12 PDF reading order, P2 audio segmentation,
media-anchor pass-through).  This module supplies the *distributed
machinery* around it, which is what must be engineered explicitly for
100 TB (SURVEY.md §4.2):

* **one mapInArrow kernel** (``_parse_kernel``): span arrays cross the
  JVM↔Python boundary as Arrow ``list<struct>`` buffers and are consumed
  column-wise (child arrays bulk-converted once per batch) — no per-span
  Python dicts, no pandas object columns.  Measured ~3× faster than the
  naive ``mapInPandas``-with-dicts formulation at local[8].  Every parse
  runs this one loop: whole docs into the nested EXTRACTED_SCHEMA
  (``extract_documents``), whole docs straight into flat span rows
  (``extract_documents_flat``, the streaming sinks), and salted slices
  (``assume_sorted=True``, ``slice_id`` passed through);
* **no forced input shuffle**: the parse is embarrassingly parallel, so
  the operator runs on whatever partitioning the scan provides (Parquet/
  Iceberg split planning already balances bytes);
* **salting for skewed mega-documents**: docs whose span count exceeds
  ``salt_threshold`` are split into contiguous span slices at audio-run-
  safe boundaries, hash-distributed on ``(doc_id, slice_id)``, parsed
  independently, then reassembled in slice order with renumbered global
  ``seq`` — order-stable by construction (AQE skew handling cannot help
  here: the skew lives inside the UDF stage, not a join);
* per-doc extraction metrics (blocks kept/dropped, parse failures)
  carried alongside the spans for the lineage/metrics table.

Note on the two-branch plan: the small/mega split scans the input twice.
The mega branch's scan prunes to a tiny row subset but still reads the
span bytes.  The operator caches nothing itself (pinning a small scan
measured no gain at local[4]); a caller whose input is expensive to
re-read persists it in its own ledger, as ``SragEngine.ingest`` does,
and ExtractionPipeline waves keep each re-scan bounded to one wave's
buckets.  A caller that knows its input holds no mega doc passes
``salt_threshold=None`` and gets the one-branch plan.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from srag_spark.golden import extract_document_cols
from srag_spark.schema import (
    EXTRACTED_FLAT_SCHEMA,
    EXTRACTED_SCHEMA,
    SPAN_TYPE,
)

# Salting targets docs big enough to unbalance a task, not merely "big".
# At ~0.2 ms/span kernel cost, a task of ~5000 median docs carries ~5 s of
# parse; a doc below ~4096 spans (<1 s) cannot create a straggler, and
# routing it through the 3-stage salted path (slice shuffle + reassembly)
# costs more than it saves.  Docs above the threshold — the true
# pathological tail — still get sliced and spread.
DEFAULT_SALT_THRESHOLD = 4096  # spans; docs above this get sliced
DEFAULT_SLICE_TARGET = 1024    # spans per salted slice

_SLICE_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("slice_id", IntegerType(), False),
        StructField("spans", ArrayType(SPAN_TYPE), False),
    ]
)

_PARSED_SLICE_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("slice_id", IntegerType(), False),
        StructField("spans", EXTRACTED_SCHEMA["spans"].dataType, False),
        StructField("blocks_kept", LongType(), False),
        StructField("blocks_dropped", LongType(), False),
        StructField("parse_failures", LongType(), False),
    ]
)


# ---------------------------------------------------------------------------
# slicing (salted path helpers)
# ---------------------------------------------------------------------------
def slice_bounds(kinds: list, n: int, target: int) -> list[tuple[int, int]]:
    """Contiguous [start, end) slice bounds of ~``target`` positions over
    an ordered span sequence, never splitting inside an audio run (a run
    sliced in two would segment differently than the whole-doc parse)."""
    if n <= target:
        return [(0, n)]
    bounds = []
    start = 0
    while start < n:
        end = min(start + target, n)
        while 0 < end < n and kinds[end - 1] == "audio" and kinds[end] == "audio":
            end += 1
        bounds.append((start, end))
        start = end
    return bounds


def slice_spans(spans: list[dict], target: int) -> list[list[dict]]:
    """Dict-view of :func:`slice_bounds` (tests / spec)."""
    kinds = [s.get("kind") for s in spans]
    return [spans[a:b] for a, b in slice_bounds(kinds, len(spans), target)]


def _doc_order(offsets: list) -> list[int]:
    """Document order: (offset, original array position) — the stable
    order the golden parser uses."""
    return sorted(
        range(len(offsets)),
        key=lambda i: (offsets[i] if offsets[i] is not None else i, i),
    )


def sort_doc_spans(spans: list[dict]) -> list[dict]:
    """Dict-view of the document order the slicer applies (tests / spec)."""
    return [spans[i] for i in _doc_order([s.get("offset") for s in spans])]


# ---------------------------------------------------------------------------
# Arrow-native parse kernel
# ---------------------------------------------------------------------------
def _span_cols(batch):
    """Bulk-extract one Arrow batch's span child arrays → Python lists.

    One C-loop conversion per column per batch; returns (list_offsets,
    kinds, texts, medias, offs).  The kind column is dictionary-decoded
    so the (few) distinct kind strings are shared references instead of
    one fresh Python string per span — the kernel is memory-bandwidth
    bound and this column is the most repetitive."""
    spans = batch.column("spans")
    if spans.null_count:
        raise ValueError(
            "spans column contains null list entries; a null spans array "
            "would silently misalign spans to the wrong doc_id"
        )
    offs = spans.offsets.to_numpy(zero_copy_only=False)
    if offs[0] != 0:
        # sliced batch: ListArray.offsets stays absolute into the parent
        # values buffer while flatten() rebases — rebase offsets to match
        offs = offs - offs[0]
    vals = spans.flatten()
    kd = vals.field("kind").dictionary_encode()
    dictv = kd.dictionary.to_pylist()
    kinds = [None if i is None else dictv[i] for i in kd.indices.to_pylist()]
    off_arr = vals.field("offset")
    if off_arr.null_count == 0:
        # zero-copy numpy view: skips one Python int allocation per span
        # (the kernel treats np scalars and ints identically; None checks
        # only matter when nulls exist)
        offsets = off_arr.to_numpy(zero_copy_only=True)
    else:
        offsets = off_arr.to_pylist()
    return (
        offs,
        kinds,
        vals.field("text").to_pylist(),
        vals.field("media_ref").to_pylist(),
        offsets,
    )


def _parse_kernel(schema: StructType, assume_sorted: bool = False):
    """The one Arrow parse loop: ``extract_document_cols`` once per doc,
    emitting batches of ``schema``.

    The loop collects the output kind/text/media lists plus per-doc span
    counts and metrics; ``seq`` is vectorized numpy.  A flat ``schema``
    (no ``spans`` field — EXTRACTED_FLAT_SCHEMA) gets one row per span,
    its doc_id repeated by a C-level ``take``; a nested one gets the
    ``spans`` ListArray and the metric columns.  Any other field
    (``doc_id``, a salted slice's ``slice_id``) passes through from the
    input batch.  ``assume_sorted=True`` is the salted slice parse: the
    slicer already applied the global (offset | index) document order,
    and a slice-local re-sort is not idempotent when offsets contain
    nulls."""
    names = schema.fieldNames()
    flat = "spans" not in names

    def parse(batches: Iterator) -> Iterator:
        import numpy as np  # noqa: PLC0415 — executor-side import
        import pyarrow as pa  # noqa: PLC0415

        for batch in batches:
            offs, kinds, texts, medias, offsets = _span_cols(batch)
            n = batch.num_rows
            fk: list = []
            ft: list = []
            fm: list = []
            lens = np.empty(n, dtype=np.int64)
            kept = np.empty(n, dtype=np.int64)
            dropped = np.empty(n, dtype=np.int64)
            fails = np.empty(n, dtype=np.int64)
            for i in range(n):
                a, b = offs[i], offs[i + 1]
                ok, ot, om, kept[i], dropped[i], fails[i] = extract_document_cols(
                    kinds[a:b], texts[a:b], medias[a:b], offsets[a:b],
                    assume_sorted=assume_sorted,
                )
                fk.extend(ok)
                ft.extend(ot)
                fm.extend(om)
                lens[i] = len(ok)
            ends = np.cumsum(lens)
            seq = pa.array(
                (np.arange(len(fk)) - np.repeat(ends - lens, lens)).astype(np.int32)
            )
            kind, text, media = (pa.array(c, pa.string()) for c in (fk, ft, fm))
            if flat:
                cols = {
                    "doc_id": batch.column("doc_id").take(
                        pa.array(np.repeat(np.arange(n), lens))
                    ),
                    "seq": seq,
                    "kind": kind,
                    "text": text,
                    "media_ref": media,
                }
            else:
                cols = {
                    "spans": pa.ListArray.from_arrays(
                        pa.array(np.concatenate([[0], ends]), pa.int32()),
                        pa.StructArray.from_arrays(
                            [kind, text, media, seq], ["kind", "text", "media_ref", "seq"]
                        ),
                    ),
                    "blocks_kept": pa.array(kept),
                    "blocks_dropped": pa.array(dropped),
                    "parse_failures": pa.array(fails),
                }
            yield pa.RecordBatch.from_arrays(
                [cols[c] if c in cols else batch.column(c) for c in names], names
            )

    return parse


def _make_slicer_arrow(target: int):
    def _slice(batches: Iterator) -> Iterator:
        import pyarrow as pa  # noqa: PLC0415

        for batch in batches:
            offs, kinds, texts, medias, offsets = _span_cols(batch)
            doc_ids = batch.column("doc_id").to_pylist()
            o_doc: list = []
            o_slice: list = []
            lo = [0]
            sk: list = []
            st: list = []
            sm: list = []
            so: list = []
            for i in range(batch.num_rows):
                a, b = offs[i], offs[i + 1]
                order = [a + j for j in _doc_order(offsets[a:b])]
                okinds = [kinds[j] for j in order]
                for sidx, (s, e) in enumerate(
                    slice_bounds(okinds, len(order), target)
                ):
                    o_doc.append(doc_ids[i])
                    o_slice.append(sidx)
                    for j in order[s:e]:
                        sk.append(kinds[j])
                        st.append(texts[j])
                        sm.append(medias[j])
                        so.append(offsets[j])
                    lo.append(len(sk))
            struct = pa.StructArray.from_arrays(
                [
                    pa.array(sk, pa.string()),
                    pa.array(st, pa.string()),
                    pa.array(sm, pa.string()),
                    pa.array(so, pa.int32()),
                ],
                ["kind", "text", "media_ref", "offset"],
            )
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(o_doc, pa.string()),
                    pa.array(o_slice, pa.int32()),
                    pa.ListArray.from_arrays(pa.array(lo, pa.int32()), struct),
                ],
                ["doc_id", "slice_id", "spans"],
            )

    return _slice


def _reassemble(key, pdf):
    import pandas as pd  # noqa: PLC0415

    pdf = pdf.sort_values("slice_id")
    spans: list[dict] = []
    for sl in pdf["spans"]:
        for s in sl:
            spans.append(
                {"kind": s["kind"], "text": s["text"], "media_ref": s["media_ref"], "seq": len(spans)}
            )
    return pd.DataFrame(
        [
            {
                "doc_id": key[0],
                "spans": spans,
                "blocks_kept": int(pdf["blocks_kept"].sum()),
                "blocks_dropped": int(pdf["blocks_dropped"].sum()),
                "parse_failures": int(pdf["parse_failures"].sum()),
            }
        ]
    )


# ---------------------------------------------------------------------------
# public operators
# ---------------------------------------------------------------------------
def _counting(kernel, counter):
    """Wrap an Arrow kernel so it adds each input batch's row count to a
    Spark accumulator before parsing — the 'docs parsed' lineage metric,
    and the test hook proving a persisted plan executes the parse exactly
    once per ingest (VERDICT r3 #2).

    Semantics: AT-LEAST-ONCE.  The accumulator increments inside a
    transformation, so task retries, speculative execution, and
    cache-eviction recomputation each add again (Spark only dedups
    accumulators updated in actions).  It is a progress/diagnostics
    signal; the AUTHORITATIVE parsed-docs count is derived from the
    extracted frame itself (the engine's metrics table counts rows of
    the committed output, api.SragEngine.ingest), which is exact under
    any failure pattern (ADVICE r4)."""

    def wrapped(batches: Iterator) -> Iterator:
        def counted(it):
            for b in it:
                counter.add(b.num_rows)
                yield b

        return kernel(counted(batches))

    return wrapped


def extract_documents(
    docs: DataFrame,
    salt_threshold: int | None = DEFAULT_SALT_THRESHOLD,
    slice_target: int = DEFAULT_SLICE_TARGET,
    doc_counter=None,
) -> DataFrame:
    """Full extraction over an interleaved-docs table → EXTRACTED_SCHEMA.

    Two physical paths chosen by per-doc span count (a cheap native
    ``size()`` — no Python involved in routing):

    * normal docs: ``mapInArrow`` parse on the scan's own partitioning;
    * mega docs: Arrow slicer → ``repartition(doc_id, slice_id)`` →
      ``mapInArrow`` parse per slice → ``groupBy(doc_id).applyInPandas``
      reassembly (slice-order concat, seq renumber, metric sums).

    The salted path touches only the skewed tail, so at 100 TB the extra
    shuffle moves a tiny fraction of rows while removing the straggler
    tasks that would otherwise dominate the stage.

    ``salt_threshold=None``: no doc takes the salted path — the plan is
    the whole-doc ``mapInArrow`` alone.  A caller that knows its batch
    holds no mega doc (``SragEngine.ingest`` reads the largest span count
    off its persisted batch) passes it and skips the salted stages'
    fixed Python cost on zero rows.
    """
    parse_kernel = _parse_kernel(EXTRACTED_SCHEMA)
    slicer_kernel = _make_slicer_arrow(slice_target)
    if doc_counter is not None:
        # each doc enters exactly one of the two kernels (the size()
        # routing filters are disjoint), so the accumulator totals docs
        # parsed — once per plan execution
        parse_kernel = _counting(parse_kernel, doc_counter)
        slicer_kernel = _counting(slicer_kernel, doc_counter)
    small, big = _route_by_size(docs, salt_threshold, slicer_kernel)
    out = small.mapInArrow(parse_kernel, schema=EXTRACTED_SCHEMA)
    return out if big is None else out.unionByName(big)


def _route_by_size(
    docs: DataFrame, salt_threshold: int | None, slicer_kernel
) -> tuple[DataFrame, DataFrame | None]:
    """Split the input by per-doc span count: ``(small, big)`` — the
    normal docs as ``(doc_id, spans)`` on the scan's own partitioning,
    ready for a whole-doc kernel, and the mega docs already parsed
    through the salted path (``slicer_kernel`` → ``repartition(doc_id,
    slice_id)`` → per-slice parse → ``groupBy(doc_id).applyInPandas``
    reassembly) as EXTRACTED_SCHEMA rows.  ``salt_threshold=None``:
    every doc is small and ``big`` is None."""
    docs = docs.select("doc_id", "spans")
    if salt_threshold is None:
        return docs, None
    n = F.size("spans")
    shuffle_parts = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    big = (
        docs.filter(n > salt_threshold)
        .mapInArrow(slicer_kernel, schema=_SLICE_SCHEMA)
        .repartition(shuffle_parts, "doc_id", "slice_id")
        .mapInArrow(
            _parse_kernel(_PARSED_SLICE_SCHEMA, assume_sorted=True),
            schema=_PARSED_SLICE_SCHEMA,
        )
        .groupBy("doc_id")
        .applyInPandas(_reassemble, schema=EXTRACTED_SCHEMA)
    )
    return docs.filter(n <= salt_threshold), big


def extract_documents_flat(
    docs: DataFrame,
    salt_threshold: int | None = DEFAULT_SALT_THRESHOLD,
    slice_target: int = DEFAULT_SLICE_TARGET,
) -> DataFrame:
    """Extraction emitting flat span rows (EXTRACTED_FLAT_SCHEMA) — the
    hot path for pipelines whose next stage is row-oriented anyway.

    Row-wise identical to ``explode_extracted(extract_documents(...))``
    (pinned by tests), but the dominant small-doc branch runs the parse
    kernel with the flat schema: one Arrow stage that parses and
    flattens, no nested ListArray and no explode in the JVM.  The skewed
    mega-doc tail still runs the salted nested path (slice → parse →
    reassemble) and is exploded natively — it is a tiny row fraction by
    construction.  ``salt_threshold=None`` routes every doc through the
    flat kernel and the plan is that one ``mapInArrow`` — the streaming
    sinks' shape, where a micro-batch is already bounded.

    Drops the per-doc metrics columns (as explode does); use
    ``extract_documents`` + ``extraction_metrics`` when lineage metrics
    are required.
    """
    small, big = _route_by_size(docs, salt_threshold, _make_slicer_arrow(slice_target))
    out = small.mapInArrow(
        _parse_kernel(EXTRACTED_FLAT_SCHEMA), schema=EXTRACTED_FLAT_SCHEMA
    )
    return out if big is None else out.unionByName(explode_extracted(big))


def explode_extracted(extracted: DataFrame) -> DataFrame:
    """Nested extracted docs → flat span rows (EXTRACTED_FLAT_SCHEMA).

    Pure native: explode + field projection, no Python.
    """
    return (
        extracted.select("doc_id", F.explode("spans").alias("s"))
        .select(
            "doc_id",
            F.col("s.seq").alias("seq"),
            F.col("s.kind").alias("kind"),
            F.col("s.text").alias("text"),
            F.col("s.media_ref").alias("media_ref"),
        )
    )


def extraction_metrics(extracted: DataFrame) -> DataFrame:
    """Per-doc extraction metrics view (native projection)."""
    return extracted.select(
        "doc_id",
        F.size("spans").alias("spans_out"),
        "blocks_kept",
        "blocks_dropped",
        "parse_failures",
    )


__all__ = [
    "extract_documents",
    "extract_documents_flat",
    "explode_extracted",
    "extraction_metrics",
    "slice_spans",
    "slice_bounds",
    "sort_doc_spans",
    "EXTRACTED_FLAT_SCHEMA",
]

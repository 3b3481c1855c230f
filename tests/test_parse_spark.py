"""Span-sequence equality: Spark pipeline output vs driver-side golden
parse, row-wise on (kind, text, media_ref, order) — the BASELINE.json
per-row invariant — including mega-docs through the salted slice path.
"""

from __future__ import annotations

import pytest

from srag_spark import golden, synth
from srag_spark.operators.parse import (
    explode_extracted,
    extract_documents,
    extract_documents_flat,
    extraction_metrics,
    slice_spans,
    sort_doc_spans,
)
from srag_spark.schema import DOCUMENTS_SCHEMA


def golden_flat(rows):
    """Driver-side golden extraction → {(doc_id, seq): (kind,text,media)}."""
    expected = {}
    metrics = {}
    for doc_id, spans in rows:
        out, kept, dropped, failures = golden.extract_document(spans)
        for seq, (k, t, m) in enumerate(out):
            expected[(doc_id, seq)] = (k, t, m)
        metrics[doc_id] = (kept, dropped, failures)
    return expected, metrics


def run_invariant(spark, rows, **kw):
    df = spark.createDataFrame(rows, schema=DOCUMENTS_SCHEMA)
    extracted = extract_documents(df, **kw)
    got = {
        (r["doc_id"], r["seq"]): (r["kind"], r["text"], r["media_ref"])
        for r in explode_extracted(extracted).collect()
    }
    expected, exp_metrics = golden_flat(rows)
    assert got == expected
    got_metrics = {
        r["doc_id"]: (r["blocks_kept"], r["blocks_dropped"], r["parse_failures"])
        for r in extraction_metrics(extracted).collect()
    }
    assert got_metrics == exp_metrics


def test_spark_matches_golden_small_corpus(spark):
    rows = synth.generate_rows(60, seed=42, mega_every=0)
    run_invariant(spark, rows)


def test_spark_matches_golden_with_megadocs_salted(spark):
    # force every doc >8 spans down the salted path with tiny slices so
    # slicing/reassembly is exercised hard
    rows = synth.generate_rows(30, seed=7, mega_every=10)
    run_invariant(spark, rows, salt_threshold=8, slice_target=5)


def test_flat_operator_equals_nested_plus_explode(spark):
    """extract_documents_flat (one-pass Arrow flatten) must be row-wise
    identical to explode_extracted(extract_documents(...)), including the
    salted mega path, empty-span docs, and golden values."""
    rows = synth.generate_rows(40, seed=11, mega_every=13) + [
        ("doc-empty", []),
        ("doc-unknown", [{"kind": "mystery", "text": "x", "media_ref": None, "offset": 0}]),
    ]
    df = spark.createDataFrame(rows, schema=DOCUMENTS_SCHEMA)
    key = lambda r: (r["doc_id"], r["seq"])  # noqa: E731
    expected, _ = golden_flat(rows)
    # 64: the mega docs take the salted path; None: every doc is parsed
    # whole (the streaming sinks' shape)
    for salt_threshold in (64, None):
        nested = {
            key(r): (r["kind"], r["text"], r["media_ref"])
            for r in explode_extracted(
                extract_documents(df, salt_threshold=salt_threshold, slice_target=16)
            ).collect()
        }
        flat = {
            key(r): (r["kind"], r["text"], r["media_ref"])
            for r in extract_documents_flat(
                df, salt_threshold=salt_threshold, slice_target=16
            ).collect()
        }
        assert flat == nested
        assert flat == expected


def test_spark_pinned_fixture_doc(spark):
    rows = [
        (
            "pinned-1",
            [
                {"kind": "text", "text": "hello   world\nfrom text", "media_ref": None, "offset": 0},
                {"kind": "media", "text": None, "media_ref": "blob://m/0", "offset": 1},
                {"kind": "audio", "text": "Hello,", "media_ref": None, "offset": 2},
                {"kind": "audio", "text": "world!", "media_ref": None, "offset": 3},
            ],
        ),
        ("empty-doc", []),
        (
            "ws-only",
            [{"kind": "text", "text": "   ", "media_ref": None, "offset": 0}],
        ),
    ]
    df = spark.createDataFrame(rows, schema=DOCUMENTS_SCHEMA)
    flat = explode_extracted(extract_documents(df)).collect()
    got = sorted(
        ((r["doc_id"], r["seq"], r["kind"], r["text"], r["media_ref"]) for r in flat)
    )
    assert got == [
        ("pinned-1", 0, "text", "hello", None),
        ("pinned-1", 1, "text", "world", None),
        ("pinned-1", 2, "text", "from", None),
        ("pinned-1", 3, "text", "text", None),
        ("pinned-1", 4, "media", None, "blob://m/0"),
        ("pinned-1", 5, "audio", "Hello, world!", None),
    ]


def test_salted_path_null_and_unsorted_offsets(spark):
    """Regression: the salted path must preserve golden order when offsets
    contain nulls.  The slicer applies the global (offset | index) order;
    a slice-local re-sort keyed on slice-LOCAL indices is not idempotent
    (offsets [0, None, 0, 0, 2] → golden w0,w2,w3,w1,w4 but a double sort
    yields w0,w2,w3,w4,w1)."""
    mk = lambda t, off: {"kind": "text", "text": t, "media_ref": None, "offset": off}  # noqa: E731
    rows = [
        (
            "null-off",
            [mk("w0", 0), mk("w1", None), mk("w2", 0), mk("w3", 0), mk("w4", 2)],
        ),
        (
            "null-off-big",
            [mk(f"w{i}", None if i % 3 == 1 else (i * 7) % 13) for i in range(40)],
        ),
        (
            "unsorted",
            [mk("a", 5), mk("b", 1), mk("c", None), mk("d", 0)],
        ),
    ]
    # salt_threshold=2 forces every doc down the salted slice path
    run_invariant(spark, rows, salt_threshold=2, slice_target=2)


def test_slice_spans_never_splits_audio_runs():
    spans = (
        [{"kind": "text", "text": "t", "media_ref": None, "offset": i} for i in range(3)]
        + [{"kind": "audio", "text": "a", "media_ref": None, "offset": 3 + i} for i in range(7)]
        + [{"kind": "text", "text": "t", "media_ref": None, "offset": 10 + i} for i in range(3)]
    )
    slices = slice_spans(spans, target=4)
    # reassembled = original
    flat = [s for sl in slices for s in sl]
    assert flat == spans
    # no boundary inside the audio run
    for a, b in zip(slices, slices[1:]):
        assert not (a[-1]["kind"] == "audio" and b[0]["kind"] == "audio")


@pytest.mark.parametrize("target", [1, 2, 1000])
def test_slice_spans_roundtrip(target):
    rows = synth.generate_rows(5, seed=3, mega_every=0)
    for _, spans in rows:
        ordered = sort_doc_spans(spans)
        flat = [s for sl in slice_spans(ordered, target) for s in sl]
        assert flat == ordered

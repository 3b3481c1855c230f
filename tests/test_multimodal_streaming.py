"""Multimodal plumbing + streaming-variant tests."""

from __future__ import annotations

import pytest

from srag_spark import golden, synth
from srag_spark.operators.multimodal import (
    FEATURE_DIM,
    decode_media,
    extract_features,
    frame_sample_plan,
    require_real_codecs,
    synth_media_table,
)


def test_decode_media_contract(spark):
    media = synth_media_table(spark, n=60)
    out = decode_media(media).collect()
    assert len(out) == 60
    by_ref = {r["media_ref"]: r for r in out}
    for r in out:
        if r["decode_ok"] == "ok":
            if r["media_type"] == "image":
                assert r["width"] > 0 and r["height"] > 0 and r["duration_ms"] is None
            elif r["media_type"] == "audio":
                assert r["duration_ms"] > 0 and r["width"] is None
            else:
                assert r["n_frames"] >= 1 and r["duration_ms"] > 0
        else:
            assert r["decode_ok"].startswith("error:")
    # empty payloads must fail gracefully, not kill the job
    empties = [r for r in out if r["decode_ok"].startswith("error:")]
    assert empties, "synth table plants empty payloads"
    # determinism
    again = {r["media_ref"]: r for r in decode_media(media).collect()}
    assert by_ref == again


def test_extract_features_contract(spark):
    media = synth_media_table(spark, n=20)
    feats = extract_features(media).collect()
    assert len(feats) == 20
    for r in feats:
        assert len(r["feature"]) == FEATURE_DIM
        norm = sum(x * x for x in r["feature"]) ** 0.5
        assert norm == pytest.approx(1.0, abs=1e-4)


def test_frame_sample_plan(spark):
    media = synth_media_table(spark, n=60)
    decoded = decode_media(media)
    samples = frame_sample_plan(decoded, every_ms=5000)
    rows = samples.collect()
    vids = {r["media_ref"]: r for r in decoded.collect() if r["media_type"] == "video" and r["decode_ok"] == "ok"}
    got = {}
    for r in rows:
        got.setdefault(r["media_ref"], []).append(r["sample_ms"])
    assert set(got) == set(vids)
    for ref, ts in got.items():
        assert ts == sorted(ts)
        assert ts[0] == 0
        assert ts[-1] < vids[ref]["duration_ms"]


def test_real_codecs_stubbed():
    with pytest.raises(NotImplementedError):
        require_real_codecs()


def test_streaming_extraction_matches_batch_golden(spark, tmp_path):
    """availableNow streaming run over a parquet drop == golden parse."""
    from srag_spark.schema import DOCUMENTS_SCHEMA
    from srag_spark.streaming.ingest import start_extraction_stream

    rows = synth.generate_rows(25, seed=5, mega_every=0)
    in_dir = str(tmp_path / "in")
    spark.createDataFrame(rows, schema=DOCUMENTS_SCHEMA).write.parquet(in_dir)

    out_dir = str(tmp_path / "out")
    q = start_extraction_stream(
        spark, in_dir, out_dir, str(tmp_path / "ckpt"), trigger_once=True
    )
    q.awaitTermination(120)

    got = {
        (r["doc_id"], r["seq"]): (r["kind"], r["text"], r["media_ref"])
        for r in spark.read.parquet(out_dir).collect()
    }
    exp = {}
    for doc_id, spans in rows:
        out, *_ = golden.extract_document(spans)
        for seq, (k, t, m) in enumerate(out):
            exp[(doc_id, seq)] = (k, t, m)
    assert got == exp


def _plan_nodes(plan) -> list[str]:
    kids = plan.children()
    return [plan.nodeName()] + [
        n for i in range(kids.size()) for n in _plan_nodes(kids.apply(i))
    ]


def test_extraction_stream_parses_and_flattens_in_one_kernel(spark, tmp_path):
    """The stream's plan is the flat parse kernel alone: one
    ``MapInArrow`` emits the span rows, and no ``Generate`` (explode)
    runs in the JVM."""
    from srag_spark.schema import DOCUMENTS_SCHEMA
    from srag_spark.streaming.ingest import start_extraction_stream

    in_dir = str(tmp_path / "in")
    spark.createDataFrame(
        synth.generate_rows(3, seed=5, mega_every=0), schema=DOCUMENTS_SCHEMA
    ).write.parquet(in_dir)
    q = start_extraction_stream(
        spark, in_dir, str(tmp_path / "out"), str(tmp_path / "ckpt"),
        trigger_once=True,
    )
    q.awaitTermination(120)
    nodes = _plan_nodes(q._jsq.streamingQuery().lastExecution().analyzed())
    assert nodes.count("MapInArrow") == 1, nodes
    assert "Generate" not in nodes, nodes

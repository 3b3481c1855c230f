"""Streaming upsert sink into the manifest-committed table layer."""

from __future__ import annotations

from srag_spark.schema import DOCUMENTS_SCHEMA
from srag_spark.sources.tables import read_table
from srag_spark.streaming.sink import start_upsert_stream


def _doc(doc_id, text):
    return (doc_id, [{"kind": "text", "text": text, "media_ref": None, "offset": 0}])


def _run_once(spark, in_dir, tbl, ckpt):
    q = start_upsert_stream(
        spark, in_dir, tbl, ckpt,
        key_cols=("doc_id", "seq"), n_buckets=4, trigger_once=True,
    )
    q.awaitTermination(120)


def _spans(spark, tbl):
    out = {}
    for r in read_table(spark, tbl).collect():
        out.setdefault(r["doc_id"], {})[r["seq"]] = r["text"]
    return out


def test_streaming_upsert_sink_replaces_shrunk_entities(spark, tmp_path):
    """Two micro-batch rounds over the SAME checkpoint: re-ingesting a
    document that shrank must replace ALL its previous spans (S4
    transcript-replace semantics), not leave stale rows; untouched docs
    keep their original rows; each round commits only the buckets its
    docs hash into."""
    in_dir = str(tmp_path / "in")
    tbl = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")

    spark.createDataFrame(
        [_doc("d0", "alpha beta gamma"), _doc("d1", "one two")],
        schema=DOCUMENTS_SCHEMA,
    ).write.parquet(in_dir)
    _run_once(spark, in_dir, tbl, ckpt)
    got = _spans(spark, tbl)
    assert got["d0"] == {0: "alpha", 1: "beta", 2: "gamma"}
    assert got["d1"] == {0: "one", 1: "two"}

    # second drop: d0 shrinks to one span; d1 not re-ingested
    spark.createDataFrame(
        [_doc("d0", "solo")], schema=DOCUMENTS_SCHEMA
    ).write.mode("append").parquet(in_dir)
    _run_once(spark, in_dir, tbl, ckpt)
    got = _spans(spark, tbl)
    assert got["d0"] == {0: "solo"}  # spans 1 and 2 are GONE
    assert got["d1"] == {0: "one", 1: "two"}


def test_streaming_upsert_sink_replay_converges(spark, tmp_path):
    """A re-delivered micro-batch (fresh checkpoint over the same input —
    the at-least-once case) must converge to the same table (J7)."""
    in_dir = str(tmp_path / "in")
    tbl = str(tmp_path / "tbl")

    spark.createDataFrame(
        [_doc("d0", "alpha beta"), _doc("d1", "one")], schema=DOCUMENTS_SCHEMA
    ).write.parquet(in_dir)
    _run_once(spark, in_dir, tbl, str(tmp_path / "ckpt1"))
    first = _spans(spark, tbl)
    _run_once(spark, in_dir, tbl, str(tmp_path / "ckpt2"))  # full replay
    assert _spans(spark, tbl) == first


def test_streaming_replace_entity_batch_publishes_one_version(spark, tmp_path):
    """A replace-entity micro-batch is ONE merge commit: the table moves
    by exactly one manifest version, and the shrunk entity's old rows
    and the new ones change in that same snapshot (no intermediate
    version where the entity is deleted but not yet re-inserted)."""
    from srag_spark.sources.tables import latest_manifest_version

    in_dir = str(tmp_path / "in")
    tbl = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(
        [_doc("d0", "alpha beta gamma"), _doc("d1", "one two")],
        schema=DOCUMENTS_SCHEMA,
    ).write.parquet(in_dir)
    _run_once(spark, in_dir, tbl, ckpt)
    v0 = latest_manifest_version(spark, tbl)

    spark.createDataFrame(
        [_doc("d0", "solo")], schema=DOCUMENTS_SCHEMA
    ).write.mode("append").parquet(in_dir)
    _run_once(spark, in_dir, tbl, ckpt)
    assert latest_manifest_version(spark, tbl) == v0 + 1
    assert _spans(spark, tbl)["d0"] == {0: "solo"}

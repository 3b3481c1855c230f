"""Write–audit–publish at engine scope (Iceberg's WAP workflow over the
engine manifest): ``SragEngine.stage_ingest`` lands a whole four-table
ingest without publishing it, the audit reads the candidate through
``staged_tables`` / ``staged_changelog``, then ``publish_ingest`` flips
the engine snapshot or ``abandon_ingest`` unwinds it.

Covers: invisibility until publish, abandon + vacuum of the abandoned
batch, vacuum while a stage is pending, staging into a virgin engine,
and the conflict raised when the engine moved under a stage.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from srag_spark.api import StagedConflict


def _engine_docs(spark, rows):
    from srag_spark.schema import DOCUMENTS_SCHEMA

    return spark.createDataFrame(
        [
            (d, [{"kind": "text", "text": t, "media_ref": None, "offset": 0}])
            for d, t in rows
        ],
        schema=DOCUMENTS_SCHEMA,
    )


TEXT_1 = "the quick brown fox jumps over the lazy dog near the river bank"
TEXT_2 = "cooking fresh pasta with tomato sauce and basil in the summer garden"


def test_engine_stage_audit_publish(spark, tmp_path):
    from srag_spark.api import SragEngine

    eng = SragEngine(spark, str(tmp_path / "kb"), n_buckets=4)
    eng.ingest(_engine_docs(spark, [("a", TEXT_1)]))

    res = eng.stage_ingest(_engine_docs(spark, [("b", TEXT_2)]))
    sid = res["staging_id"]
    assert res["documents"] == 1
    # readers stay on the pre-batch state
    assert {r["doc_id"] for r in eng.transcripts().collect()} == {"a"}
    assert eng.chunks().filter(F.col("doc_id") == "b").count() == 0
    # the audit sees the candidate
    staged = eng.staged_tables(sid)
    assert {r["doc_id"] for r in staged["transcripts"].collect()} == {"a", "b"}
    assert staged["chunks"].filter(F.col("doc_id") == "b").count() >= 1
    assert sid in eng.staged_ingests()

    eng.publish_ingest(sid)
    assert {r["doc_id"] for r in eng.transcripts().collect()} == {"a", "b"}
    assert eng.staged_ingests() == {}


def test_engine_abandon_unwinds_and_reclaims(spark, tmp_path):
    from srag_spark.api import SragEngine

    eng = SragEngine(spark, str(tmp_path / "kb"), n_buckets=4)
    eng.ingest(_engine_docs(spark, [("a", TEXT_1)]))
    before = {r["doc_id"] for r in eng.transcripts().collect()}

    sid = eng.stage_ingest(_engine_docs(spark, [("b", TEXT_2)]))["staging_id"]
    eng.abandon_ingest(sid)
    assert {r["doc_id"] for r in eng.transcripts().collect()} == before
    assert eng.chunks().filter(F.col("doc_id") == "b").count() == 0
    # the abandoned batch's dirs are garbage; the live state survives vacuum
    assert eng.vacuum(min_age_seconds=0) >= 1
    assert {r["doc_id"] for r in eng.transcripts().collect()} == before
    # the engine keeps working after the unwind
    eng.ingest(_engine_docs(spark, [("c", TEXT_2)]))
    assert {r["doc_id"] for r in eng.transcripts().collect()} == before | {"c"}


def test_engine_vacuum_keeps_pending_stage(spark, tmp_path):
    """An aggressive vacuum while a stage is pending keeps both sides of
    it: the candidate the audit reads and publishes, and the base an
    abandon unwinds to."""
    from srag_spark.api import SragEngine

    eng = SragEngine(spark, str(tmp_path / "kb"), n_buckets=4)
    eng.ingest(_engine_docs(spark, [("a", TEXT_1)]))
    sid = eng.stage_ingest(_engine_docs(spark, [("b", TEXT_2)]))["staging_id"]
    eng.vacuum(keep_manifests=1, min_age_seconds=0)
    staged = eng.staged_tables(sid)
    assert {r["doc_id"] for r in staged["transcripts"].collect()} == {"a", "b"}
    assert staged["chunks"].filter(F.col("doc_id") == "b").count() >= 1
    eng.publish_ingest(sid)
    assert {r["doc_id"] for r in eng.transcripts().collect()} == {"a", "b"}

    other = SragEngine(spark, str(tmp_path / "kb2"), n_buckets=4)
    other.ingest(_engine_docs(spark, [("a", TEXT_1)]))
    sid = other.stage_ingest(_engine_docs(spark, [("b", TEXT_2)]))["staging_id"]
    other.vacuum(keep_manifests=1, min_age_seconds=0)
    other.abandon_ingest(sid)
    assert {r["doc_id"] for r in other.transcripts().collect()} == {"a"}
    assert other.chunks().filter(F.col("doc_id") == "b").count() == 0
    assert other.chunks().filter(F.col("doc_id") == "a").count() >= 1


def test_engine_staged_initial_ingest_invisible(spark, tmp_path):
    from srag_spark.api import SragEngine

    eng = SragEngine(spark, str(tmp_path / "kb"), n_buckets=4)
    sid = eng.stage_ingest(_engine_docs(spark, [("a", TEXT_1)]))["staging_id"]
    # a virgin engine must NOT leak the staged tables to readers
    with pytest.raises(FileNotFoundError):
        eng.transcripts().collect()
    eng.publish_ingest(sid)
    assert {r["doc_id"] for r in eng.transcripts().collect()} == {"a"}


def test_engine_abandoned_initial_ingest_leaves_empty_tables(spark, tmp_path):
    from srag_spark.api import SragEngine

    eng = SragEngine(spark, str(tmp_path / "kb"), n_buckets=4)
    sid = eng.stage_ingest(_engine_docs(spark, [("a", TEXT_1)]))["staging_id"]
    eng.abandon_ingest(sid)
    assert eng.transcripts().count() == 0
    assert eng.chunks().count() == 0
    # normal ingests continue from the empty state
    eng.ingest(_engine_docs(spark, [("b", TEXT_2)]))
    assert {r["doc_id"] for r in eng.transcripts().collect()} == {"b"}


def test_engine_publish_conflicts_after_concurrent_mutation(spark, tmp_path):
    from srag_spark.api import SragEngine

    eng = SragEngine(spark, str(tmp_path / "kb"), n_buckets=4)
    eng.ingest(_engine_docs(spark, [("a", TEXT_1)]))
    sid = eng.stage_ingest(_engine_docs(spark, [("b", TEXT_2)]))["staging_id"]
    # a concurrent writer violates the single-writer contract
    eng.ingest(_engine_docs(spark, [("c", TEXT_2)]))
    with pytest.raises(StagedConflict):
        eng.publish_ingest(sid)
    with pytest.raises(StagedConflict):
        eng.abandon_ingest(sid)

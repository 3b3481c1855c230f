"""Metadata introspection tables (Iceberg snapshots/files read path):
table_history, table_files, SragEngine.describe — pure metadata reads
that must reflect exactly what the manifests record, without touching
data files.
"""

from __future__ import annotations

import json

import pytest

from srag_spark.api import SragEngine
from srag_spark.sources.tables import (
    latest_manifest_version,
    read_manifest,
    rewrite_table,
    rollback,
    table_files,
    table_history,
    tag_snapshot,
    upsert_by_key,
)
from srag_spark.synth import synth_documents_df


def _docs(spark, n=6, seed=3):
    return synth_documents_df(spark, n, seed=seed, mega_every=0)


def test_table_history_versions_tags_and_layout(spark, tmp_path):
    path = str(tmp_path / "t")
    upsert_by_key(spark, path, _docs(spark, 6), ["doc_id"], n_buckets=4)
    upsert_by_key(spark, path, _docs(spark, 2, seed=9), ["doc_id"], n_buckets=4)
    tag_snapshot(spark, path, "first", version=1)
    rewrite_table(spark, path, n_buckets=2, sort_by=["doc_id"])

    hist = {r["version"]: r for r in table_history(spark, path).collect()}
    assert set(hist) == {1, 2, 3}
    assert hist[1]["tags"] == ["first"] and hist[2]["tags"] == []
    assert hist[1]["n_buckets"] == 4 and hist[3]["n_buckets"] == 2
    assert hist[3]["sort_by"] == ["doc_id"] and hist[1]["sort_by"] is None
    assert hist[1]["key_cols"] == ["doc_id"]
    # live-bucket counts mirror the manifests
    for v, row in hist.items():
        m = read_manifest(spark, path, version=v)
        assert row["n_live_buckets"] == len(m["buckets"])
        assert row["n_fields"] == len(json.loads(m["schema"])["fields"])


def test_metadata_reads_start_no_spark_job(spark, tmp_path, jobs_run_by):
    """Manifests are read through the FileSystem API on the driver:
    reading one, building a 4-version table's history and listing an
    engine's snapshots start no Spark job."""
    path = str(tmp_path / "t")
    upsert_by_key(spark, path, _docs(spark, 4), ["doc_id"], n_buckets=2)
    upsert_by_key(spark, path, _docs(spark, 2, seed=9), ["doc_id"], n_buckets=2)
    rollback(spark, path, 1)
    rollback(spark, path, 2)
    eng = SragEngine(spark, str(tmp_path / "kb"), n_buckets=2)
    for _ in range(4):
        eng._publish_engine_snapshot()

    manifest, jobs = jobs_run_by(lambda: read_manifest(spark, path))
    assert manifest["version"] == 4 and jobs == []
    hist, jobs = jobs_run_by(lambda: table_history(spark, path))
    assert jobs == []
    assert [r["version"] for r in hist.orderBy("version").collect()] == [1, 2, 3, 4]
    versions, jobs = jobs_run_by(eng.snapshot_versions)
    assert versions == [1, 2, 3, 4] and jobs == []


def test_table_files_lists_live_parquet_and_stats(spark, tmp_path):
    path = str(tmp_path / "t")
    upsert_by_key(spark, path, _docs(spark, 8), ["doc_id"], n_buckets=4)
    files_v1 = table_files(spark, path).collect()
    assert files_v1 and all(f["file"].endswith(".parquet") for f in files_v1)
    assert all(f["size_bytes"] > 0 for f in files_v1)
    assert all(f["stats"] is None for f in files_v1)  # no zone maps yet
    m1 = read_manifest(spark, path)
    assert {f["bucket"] for f in files_v1} == {int(b) for b in m1["buckets"]}

    rewrite_table(spark, path, sort_by=["doc_id"])
    files_v2 = table_files(spark, path).collect()
    # compaction: one file per live bucket, zone maps recorded
    per_bucket = {}
    for f in files_v2:
        per_bucket.setdefault(f["bucket"], []).append(f)
    assert all(len(v) == 1 for v in per_bucket.values())
    for f in files_v2:
        st = json.loads(f["stats"])
        assert "doc_id" in st
    # old snapshot still listable by version
    assert {f["file"] for f in table_files(spark, path, version=1).collect()} == {
        f["file"] for f in files_v1
    }


def test_table_files_missing_table_raises(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        table_files(spark, str(tmp_path / "nope"))
    with pytest.raises(FileNotFoundError):
        table_history(spark, str(tmp_path / "nope"))


def test_engine_describe_matches_pinned_snapshot(spark, tmp_path):
    eng = SragEngine(spark, str(tmp_path / "kb"), n_buckets=4)
    eng.ingest(_docs(spark, 6))
    d = {r["table"]: r for r in eng.describe().collect()}
    assert set(d) == {"transcripts", "chunks", "embeddings", "metrics"}
    for name, row in d.items():
        assert row["version"] == latest_manifest_version(
            spark, eng._table_paths[name]
        )
        assert row["n_files"] >= 1 and row["size_bytes"] > 0
        assert row["n_buckets"] == 4
    # describe of an older engine snapshot pins older table versions
    eng.ingest(_docs(spark, 2, seed=8))
    versions = eng.snapshot_versions()
    old = {r["table"]: r["version"] for r in eng.describe(version=versions[-2]).collect()}
    new = {r["table"]: r["version"] for r in eng.describe().collect()}
    assert old["transcripts"] < new["transcripts"]

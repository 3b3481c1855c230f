"""Incremental extraction refresh — CDC-driven re-extraction.

The production loop for a 10^12-document corpus: the upstream
interleaved-docs table receives upserts and deletes continuously, and
re-running the full extraction pipeline over 100 TB per refresh is a
non-starter.  :func:`incremental_refresh` computes the manifest-level
changelog between the last PROCESSED source snapshot and the current one
(:func:`srag_spark.sources.tables.snapshot_diff` — one co-bucketed
full-outer join over exactly the two manifests' dirs), re-extracts ONLY
the inserted/updated documents (the engine's entity-replacing upsert
swaps every derived row of a changed doc in one commit per table, so
shrunk docs leave no stale chunks), retracts the deleted ones from all four derived tables,
publishes ONE engine snapshot for the whole refresh, and advances a
durable per-source checkpoint under the engine's metadata.

Crash safety: every step is idempotent (keyed upserts, keyed deletes,
monotone engine publish), so a rerun of a half-applied refresh converges
to the same state — effectively-once without coordination.  The
checkpoint is written strictly AFTER the publish; a crash between them
only means the next refresh re-applies an already-applied diff.

Scale shape: the diff join is co-bucketed on the source layout when the
layout is unchanged between versions; the refresh ingest and deletes
touch only the changed docs' buckets in the derived tables
(bucket-pruned keyed writes).  Refresh cost is O(changed docs), not
O(corpus).

Reference semantics: CyrilDesch/SRAG re-indexes one document on
transcript update (delete-then-index,
srag-infrastructure/.../IndexingPipeline.scala:93-103); this plan lifts
that per-document contract to snapshot granularity with lake-native CDC.
"""

from __future__ import annotations

import hashlib
import json

from pyspark import StorageLevel
from pyspark.sql import DataFrame, functions as F

from srag_spark.functions.planning import held, persist
from srag_spark.sources import fsio
from srag_spark.sources.tables import (
    _MANIFEST_DIR,
    delete_by_key,
    latest_manifest_version,
    read_table,
    snapshot_diff,
    table_exists,
)


def _checkpoint_path(engine, source_path: str) -> str:
    digest = hashlib.sha256(source_path.rstrip("/").encode("utf-8")).hexdigest()[:16]
    return f"{engine.engine_meta_path}/{_MANIFEST_DIR}/refresh-{digest}.json"


def refresh_checkpoint(engine, source_path: str) -> int | None:
    """Last source-table version this engine has fully absorbed (the
    durable per-source watermark), or None before the first refresh."""
    txt = fsio.read_text_or_none(engine.spark, _checkpoint_path(engine, source_path))
    if txt is None:
        return None
    return int(json.loads(txt)["processed_version"])


def _write_checkpoint(engine, source_path: str, version: int) -> None:
    fsio.write_text(
        engine.spark,
        _checkpoint_path(engine, source_path),
        json.dumps(
            {"source_path": source_path, "processed_version": version},
            sort_keys=True,
        ),
    )


def incremental_refresh(
    engine,
    source_path: str,
    to_version: int | None = None,
    metadata: dict[str, str] | None = None,
    key_cols: list[str] | None = None,
    audits: list | None = None,
) -> dict:
    """Bring ``engine`` up to date with the manifest table of interleaved
    documents at ``source_path`` by processing only what changed since
    the last refresh.

    First call (no checkpoint): full ingest of the source snapshot.
    Subsequent calls: CDC diff → keyed deletes of retracted docs across
    transcripts/chunks/embeddings/metrics → re-ingest of inserted and
    updated docs (entity replace inside :meth:`SragEngine.ingest`)
    → one atomic engine-snapshot publish → checkpoint advance.

    Pass ``to_version`` to refresh up to a PINNED source snapshot (e.g. a
    tagged one) instead of latest — successive refreshes then replay the
    source's history deterministically.  ``metadata`` flows to the
    ingested docs like :meth:`SragEngine.ingest`.

    ``audits=[...]`` (the :mod:`srag_spark.plans.audits` gates) turns the
    refresh into write–audit–publish: the whole diff (deletes AND the
    re-ingest) is applied invisibly, the gates run against the staged
    changelog, and a failing panel unwinds EVERYTHING — the deletes too —
    via manifest-only rollbacks, leaving the watermark untouched.  The
    nightly-CDC production gate: a poisoned upstream batch never reaches
    readers and never advances the checkpoint.  The result then carries
    ``published`` and ``audits``.

    Choose refresh gates for CHANGELOG semantics: a legitimate CDC batch
    may contain only deletions, which absolute-count gates like
    ``min_docs`` (designed for ingest batches) would reject forever
    under the stream's retry posture — prefer rate gates
    (``max_parse_failure_rate``, ``min_quality``,
    ``max_contamination``) for refresh panels.

    Returns ``{"from_version", "to_version", "inserted", "updated",
    "deleted", ...ingest counts}``.  Single-writer like every engine
    mutation.
    """
    spark = engine.spark
    latest = latest_manifest_version(spark, source_path)
    if latest is None:
        raise FileNotFoundError(f"no source table at {source_path}")
    to_v = latest if to_version is None else to_version
    from_v = refresh_checkpoint(engine, source_path)
    result = {"from_version": from_v, "to_version": to_v}
    if from_v is not None and to_v < from_v:
        raise ValueError(
            f"refresh target v{to_v} precedes the processed watermark "
            f"v{from_v} — roll the engine back instead of refreshing backwards"
        )

    if from_v is None:
        # initial load: the whole source snapshot is the diff
        docs = read_table(spark, source_path, version=to_v)
        if audits is None:
            counts = engine.ingest(docs, metadata=metadata)
            n_docs = counts.pop("documents")
            _write_checkpoint(engine, source_path, to_v)
            return {
                **result, "inserted": n_docs, "updated": 0, "deleted": 0,
                **counts,
            }
        from srag_spark.plans.audits import audited_ingest

        report = audited_ingest(engine, docs, audits, metadata=metadata)
        n_docs = report.pop("documents")
        report.pop("staging_id", None)
        if report["published"]:
            _write_checkpoint(engine, source_path, to_v)
        return {
            **result, "inserted": n_docs, "updated": 0, "deleted": 0,
            **report,
        }

    if to_v == from_v:
        result.update(inserted=0, updated=0, deleted=0)
        if audits is not None:
            # keep the audited result shape stable for on_result hooks
            # (an idle tick is a successful, trivially-clean refresh)
            result.update(published=True, audits=[])
        return result

    with held() as ledger:
        diff = persist(
            snapshot_diff(spark, source_path, from_v, to_v, key_cols=key_cols),
            ledger,
            StorageLevel.MEMORY_AND_DISK,
        )
        by_type = {
            r["change_type"]: r["n"]
            for r in diff.groupBy("change_type").agg(
                F.count(F.lit(1)).alias("n")
            ).collect()
        }
        result.update(
            inserted=by_type.get("insert", 0),
            updated=by_type.get("update", 0),
            deleted=by_type.get("delete", 0),
        )
        if not (result["inserted"] or result["updated"] or result["deleted"]):
            # versions differ but no row changed (layout-only commits):
            # nothing to gate — advance the watermark and stop
            _write_checkpoint(engine, source_path, to_v)
            if audits is not None:
                result.update(published=True, audits=[])
            return result
        # WAP base = what READERS currently see (the engine-pinned
        # quadruple), NOT table-latest: a tick that crashed after
        # applying the diff but before recording the stage leaves
        # unpublished table commits, and a later failing audit must
        # unwind to the published state — a table-latest base would
        # roll back to (and then re-pin) the poisoned leftovers,
        # publishing the very batch the gates rejected
        base = engine._published_versions() if audits is not None else None
        if result["deleted"]:
            gone = diff.filter(F.col("change_type") == "delete").select("doc_id")
            for path in engine._table_paths.values():
                if table_exists(spark, path):
                    delete_by_key(spark, path, gone, ["doc_id"])
        if result["inserted"] or result["updated"]:
            changed = diff.filter(F.col("change_type") != "delete").drop(
                "change_type"
            )
            counts = engine.ingest(changed, metadata=metadata, _publish=False)
            counts.pop("documents")
            result.update(counts)
        if audits is None:
            # one visibility point for the whole refresh (deletes + ingest)
            engine._publish_engine_snapshot()
            _write_checkpoint(engine, source_path, to_v)
            return result
        # write–audit–publish: pin the (base, candidate) quadruples as a
        # staged-ingest record so the gates read the refresh's changelog
        # through the normal staged_changelog machinery, then flip or
        # unwind.  abandon_ingest rolls EVERY touched table back to base
        # — the deletes too — and the watermark stays put.
        staging_id = engine._write_wap_record(base)
        audit_results = [a(engine, staging_id) for a in audits]
        ok = all(r.ok for r in audit_results)
        if ok:
            engine.publish_ingest(staging_id)
            _write_checkpoint(engine, source_path, to_v)
        else:
            engine.abandon_ingest(staging_id)
        result.update(published=ok, audits=audit_results)
        return result


def refresh_plan(engine, source_path: str, to_version: int | None = None) -> DataFrame:
    """Dry-run: the changelog a refresh WOULD process, as a DataFrame
    (doc_id, source columns..., change_type) — audit what an incremental
    refresh will touch before mutating the engine."""
    spark = engine.spark
    latest = latest_manifest_version(spark, source_path)
    if latest is None:
        raise FileNotFoundError(f"no source table at {source_path}")
    to_v = latest if to_version is None else to_version
    from_v = refresh_checkpoint(engine, source_path)
    if from_v is None:
        return read_table(spark, source_path, version=to_v).withColumn(
            "change_type", F.lit("insert")
        )
    return snapshot_diff(spark, source_path, from_v, to_v)

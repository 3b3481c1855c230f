"""Streaming sink into manifest-committed keyed tables.

Connects Structured Streaming to the engine's table layer
(sources/tables): each micro-batch lands as ONE merge commit through the
same keyed upsert the batch pipeline uses, so a stream and a backfill job
can maintain ONE table with identical semantics (the reference's worker
loop writes both paths through the same Postgres repository —
PostgresTranscriptRepository.scala:39-58).

Exactly-once story: Spark's streaming checkpoint records which source
offsets each epoch consumed; after a crash the SAME micro-batch is
re-delivered to ``foreachBatch``, and because the keyed upsert is
idempotent (J7 — replaying a batch converges) the table ends identical —
at-least-once delivery × idempotent commit = effectively-once.

Scale note: each micro-batch touches only the key-hash buckets of the
docs it carries (manifest-level pruning), so sink cost tracks batch size,
not table size — the property that keeps a continuously-maintained
100 TB table writable.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from srag_spark.operators.parse import extract_documents_flat
from srag_spark.sources.tables import upsert_by_key
from srag_spark.streaming.ingest import read_document_stream


def start_upsert_stream(
    spark: SparkSession,
    input_dir: str,
    table_path: str,
    checkpoint_dir: str,
    key_cols: tuple[str, ...] = ("doc_id", "seq"),
    entity_col: str = "doc_id",
    n_buckets: int = 64,
    replace_entities: bool = True,
    trigger_once: bool = False,
):
    """Source → Arrow parse → per-micro-batch keyed upsert into a
    manifest-committed table.

    ``replace_entities=True`` gives the reference's S4 transcript-replace
    semantics: every entity (doc) appearing in a batch has its previous
    rows dropped in the same commit that upserts the batch's rows, so a
    re-ingested document that SHRANK does not leave stale spans behind.
    With False, plain keyed row upsert (rows never deleted)."""
    flat = extract_documents_flat(
        read_document_stream(spark, input_dir), salt_threshold=None
    )

    def sink(batch_df, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        upsert_by_key(
            spark, table_path, batch_df, list(key_cols), n_buckets=n_buckets,
            deletes=(
                batch_df.select(entity_col).distinct() if replace_entities else None
            ),
        )

    writer = (
        flat.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()

"""Structured Streaming ingestion variant.

The reference's "stream" is a Redis work queue + worker loop
(RedisJobQueueAdapter.scala, IngestionWorker.scala:70-95) — work
distribution, not a data stream — so the batch pipeline with a checkpoint
table is the primary design (SURVEY.md §2.6).  This module adds the
genuinely streaming shape for deployments where documents arrive
continuously: a parquet-directory (or any file/Kafka) source feeding the
SAME Arrow parse kernel, with Spark's own streaming checkpointing giving
exactly-once sink semantics — the streaming twin of ExtractionPipeline's
bucket checkpoints.

The transformation is the batch operator itself,
``extract_documents_flat(stream, salt_threshold=None)``: one narrow
``mapInArrow`` that parses and flattens, with no shuffle (so it composes
with any output mode) and no JVM explode.  Golden semantics carry over
without re-testing the kernel; only the source/sink wiring differs.
Mega-doc salting is deliberately off: a micro-batch is already bounded,
so one oversized doc delays only its own batch; route known mega docs to
the batch pipeline instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from srag_spark.operators.parse import extract_documents_flat
from srag_spark.schema import DOCUMENTS_SCHEMA


def read_document_stream(
    spark: SparkSession,
    input_dir: str,
    max_files_per_trigger: int = 16,
) -> DataFrame:
    """File-source stream of interleaved-doc parquet drops.

    Each micro-batch picks up newly landed files; schema is fixed (no
    inference — §1.3)."""
    return (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


def start_extraction_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    trigger_once: bool = False,
):
    """Wire source → parse → flat parquet sink with exactly-once
    checkpointing.  ``trigger_once`` processes the backlog and stops —
    the streaming equivalent of one batch pipeline run (useful in tests
    and for catch-up jobs)."""
    flat = extract_documents_flat(
        read_document_stream(spark, input_dir), salt_threshold=None
    )
    writer = (
        flat.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()

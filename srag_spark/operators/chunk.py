"""Chunking operators (P4, P7, P8, P9).

* ``reconstruct_text`` — P4 span→text reconstruction, pure native Spark
  (``array_join`` over a ``filter``/``transform`` of the span array; no
  Python at all — Transcript.scala:23-24 semantics).
* ``chunk_documents`` — P7 recursive chunker as an Arrow-batched pandas
  UDF returning ``array<string>``, then P9 segment enumeration via native
  ``posexplode`` (IndexingPipeline.scala:79-80).
* ``word_group_chunk_documents`` — P8 query-time word-group chunker
  (QueryService.scala:28-33), same shape.

At scale the chunker is embarrassingly parallel over docs: no shuffle is
introduced here beyond whatever partitioning the input already has; the
posexplode is a narrow transformation.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, StringType

from srag_spark.functions.planning import spread_input
from srag_spark.golden import recursive_chunk, word_group_chunks


def reconstruct_text(extracted: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, spans) → (doc_id, text): single-space join of non-media
    span texts in seq order.  Pure native — stays in whole-stage codegen.

    Mirrors Transcript.text (srag-domain Transcript.scala:23-24) applied
    to the extracted span sequence; media anchors carry no text and are
    skipped (their order lives in the spans table, not the flat text).
    """
    return extracted.select(
        "doc_id",
        F.array_join(
            F.transform(
                F.filter("spans", lambda s: s["text"].isNotNull()),
                lambda s: s["text"],
            ),
            " ",
        ).alias(text_col),
    )


def _make_chunk_udf(max_chars: int, overlap: int):
    @pandas_udf(ArrayType(StringType()))
    def chunk_udf(texts: pd.Series) -> pd.Series:
        return texts.map(
            lambda t: recursive_chunk(t, max_chars=max_chars, overlap=overlap)
            if t is not None
            else []
        )

    return chunk_udf


def _make_word_group_udf(chunk_size: int):
    @pandas_udf(ArrayType(StringType()))
    def wg_udf(texts: pd.Series) -> pd.Series:
        return texts.map(
            lambda t: word_group_chunks(t, chunk_size=chunk_size) if t is not None else []
        )

    return wg_udf


def _explode_chunks(df: DataFrame, arr_col) -> DataFrame:
    out = df.select(
        "doc_id",
        F.posexplode(arr_col).alias("segment_index", "text"),
        *(["metadata"] if "metadata" in df.columns else []),
    )
    if "metadata" not in df.columns:
        out = out.withColumn("metadata", F.lit(None).cast("map<string,string>"))
    return out.filter(F.length("text") > 0).select(
        "doc_id", "segment_index", "text", "metadata"
    )


def chunk_documents(
    docs_text: DataFrame, max_chars: int = 1000, overlap: int = 200
) -> DataFrame:
    """(doc_id, text[, metadata]) → chunks (doc_id, segment_index, text,
    metadata).  Index-time recursive chunker: max 1000 chars / 200 overlap
    (TextChunker.scala:14 call-site; HuggingFaceAdapter.scala:33).
    The input is spread first (guide §2.5): the Python chunker's
    parallelism is the scan's partition count, and a small single-file
    doc table would otherwise run it on 1-2 workers (no-op at scale)."""
    udf = _make_chunk_udf(max_chars, overlap)
    return _explode_chunks(spread_input(docs_text), udf(F.col("text")))


def word_group_chunk_documents(docs_text: DataFrame, chunk_size: int = 1000) -> DataFrame:
    """P8 fallback chunker: 1000-word groups (QueryService.scala:28-33,272).
    Input spread like :func:`chunk_documents`."""
    udf = _make_word_group_udf(chunk_size)
    return _explode_chunks(spread_input(docs_text), udf(F.col("text")))

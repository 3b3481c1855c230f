"""Streaming corpus ingest with continuous dedup.

Composes Structured Streaming with the incremental-dedup operator
(``operators/dedup.build_dedup_index`` / ``incremental_dedup``) and the
manifest-committed table layer: each micro-batch of raw documents is
deduped against the COMMITTED index plus itself, kept docs upsert into
the corpus table, and their ``(doc_id, text_hash, sig)`` rows append to
the index — so the very next micro-batch sees them.  This is the
always-on form of the daily-crawl top-up path: a crawler drops files,
the stream keeps the corpus exact- and near-duplicate-free forever.

Effectively-once: Spark's streaming checkpoint re-delivers the SAME
micro-batch after a crash, and the sink's two commits are ordered
corpus-first so every crash point converges on replay:

* crash before the corpus upsert — nothing committed, replay is a
  fresh run;
* crash between corpus upsert and index append — replay sees the
  PRE-batch index, computes identical keep verdicts (the verdict
  depends only on the index and the batch), and re-issues both
  idempotent keyed upserts;
* crash after both commits (checkpoint not yet advanced) — replay now
  finds the batch's own hashes in the index and keeps nothing, but the
  corpus rows were already committed; final state identical.

The REVERSE order (index first) would lose data: a crash between the
commits would leave the batch's hashes in the index, so the replay
drops every doc as a self-duplicate with the corpus rows never written.

With ``bloom_path`` set a third commit joins the protocol — corpus →
BLOOM → index.  The sidecar must never lag the index: a bloom that
leads the index only over-approximates (false positives, re-verified by
the exact join), while an index commit the bloom hasn't absorbed would
probe MISS on the next batch and wave a real duplicate through.  Every
crash point still converges: the bloom merge is a bitwise OR, so
replaying it is a no-op on the bitmap.

Scale shape: per micro-batch, the index table is scanned (never
shuffled — the batch side broadcasts, see ``incremental_dedup``) and
only the key-hash buckets of the kept docs are rewritten, so sink cost
tracks batch size while the index grows to corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from srag_spark.operators.bloom import (
    bloom_probe,
    build_bloom,
    merge_blooms,
    table_bucket_col,
)
from srag_spark.functions.planning import held, persist
from srag_spark.operators.dedup import (
    build_dedup_index,
    incremental_dedup,
    norm_text_col,
)
from srag_spark.sources.tables import (
    read_manifest,
    read_table,
    scan_manifest,
    upsert_by_key,
)


def _bloom_prefilter(
    spark: SparkSession,
    batch_df: DataFrame,
    index_path: str,
    idx_manifest: dict,
    bloom_path: str,
    index: DataFrame,
    n_hash: int,
    hex_digits: int,
):
    """Probe the batch's exact-dup keys against the index's bloom
    sidecar and return the index pruned to the probe-hit buckets — the
    relation :func:`incremental_dedup`'s exact path scans.  Missing
    sidecar over an EXISTING index = onboarding: build it from the
    committed keys once (one index scan) and commit it before any
    verdict depends on it."""
    bucket = table_bucket_col(F.col("text_hash"), idx_manifest["n_buckets"])
    try:
        blooms = read_table(spark, bloom_path)
        meta = blooms.select("n_hash", "hex_digits").first()
        if meta is not None and (
            meta["n_hash"] != n_hash or meta["hex_digits"] != hex_digits
        ):
            # a mismatched probe would yield FALSE NEGATIVES (dups waved
            # through) — refuse rather than silently leak duplicates
            raise ValueError(
                f"bloom sidecar at {bloom_path} was built with "
                f"(n_hash={meta['n_hash']}, hex_digits={meta['hex_digits']}); "
                f"got (n_hash={n_hash}, hex_digits={hex_digits})"
            )
    except FileNotFoundError:
        onboard = _stamp_bloom_params(
            build_bloom(
                index.select("text_hash").withColumn("bucket", bucket),
                "text_hash",
                "bucket",
                n_hash,
                hex_digits,
            ),
            n_hash,
            hex_digits,
        )
        upsert_by_key(spark, bloom_path, onboard, ["bucket"], n_buckets=4)
        blooms = read_table(spark, bloom_path)
    batch_keys = (
        batch_df.select(F.md5(norm_text_col(F.col("text"))).alias("text_hash"))
        .distinct()
        .withColumn("bucket", bucket)
    )
    hits = (
        bloom_probe(batch_keys, blooms, "text_hash", "bucket", n_hash, hex_digits)
        .filter("bloom_hit")
        .select("bucket")
        .distinct()
        .collect()
    )
    hit_buckets = sorted(r["bucket"] for r in hits)
    if not hit_buckets:
        return index.limit(0)
    return scan_manifest(spark, index_path, idx_manifest, hit_buckets).select(
        "doc_id", "text_hash", "sig"
    )


def _stamp_bloom_params(blooms: DataFrame, n_hash: int, hex_digits: int):
    """Record the build parameters on every sidecar row so a later
    reader can refuse a mismatched probe (which would produce false
    negatives) instead of silently leaking duplicates."""
    return blooms.withColumn("n_hash", F.lit(int(n_hash))).withColumn(
        "hex_digits", F.lit(int(hex_digits))
    )


def _merge_bloom_sidecar(
    spark: SparkSession,
    bloom_path: str,
    kept_keys: DataFrame,
    n_hash: int,
    hex_digits: int,
) -> None:
    """OR a bloom built over ONLY the appended keys into the committed
    sidecar, rewriting just the touched buckets — O(batch), base keys
    never re-read.  Idempotent under streaming replay: re-ORing the
    same bits is a no-op (``n_keys`` stays a conservative upper bound,
    the safe direction for FP-rate monitoring)."""
    batch_bloom = build_bloom(kept_keys, "text_hash", "bucket", n_hash, hex_digits)
    try:
        existing = read_table(spark, bloom_path).select(
            "bucket", "bitmap", "n_keys"
        )
        touched = existing.join(
            batch_bloom.select("bucket"), "bucket", "left_semi"
        )
        merged = merge_blooms(touched, batch_bloom)
    except FileNotFoundError:
        merged = batch_bloom
    upsert_by_key(
        spark,
        bloom_path,
        _stamp_bloom_params(merged, n_hash, hex_digits),
        ["bucket"],
        n_buckets=4,
    )


def rebuild_bloom_sidecar(
    spark: SparkSession,
    index_path: str,
    bloom_path: str,
    n_hash: int = 3,
    hex_digits: int = 5,
) -> dict:
    """Rebuild the sidecar from the committed index — the maintenance
    path for when merged ``n_keys`` outgrows the bit space (FP rate ≈
    ``(1 - exp(-n_hash·n/m))^n_hash`` with ``m = 16^hex_digits``):
    re-run at a larger ``hex_digits`` and probes regain selectivity.
    Also the parameter-change path the sink's guard refuses to cross
    silently.  One index scan; the result REPLACES the sidecar (same
    snapshot-atomic upsert, readers see old or new, never a mix — and a
    rebuild can only shrink the bitmap toward truth, so a reader on the
    old sidecar merely keeps the old FP rate).  Returns per-bucket
    ``n_keys`` for FP-rate monitoring."""
    manifest = read_manifest(spark, index_path)
    if manifest is None:
        raise FileNotFoundError(f"no index at {index_path}")
    if manifest["bucket_col"] != "text_hash":
        raise ValueError(
            f"{index_path} is bucketed by {manifest['bucket_col']!r}; a "
            "bloom sidecar requires a text_hash-keyed index"
        )
    keys = (
        scan_manifest(spark, index_path, manifest)
        .select("text_hash")
        .withColumn(
            "bucket", table_bucket_col(F.col("text_hash"), manifest["n_buckets"])
        )
    )
    blooms = _stamp_bloom_params(
        build_bloom(keys, "text_hash", "bucket", n_hash, hex_digits),
        n_hash,
        hex_digits,
    )
    # one merge commit replaces the sidecar: rebuilt buckets overwrite
    # their rows and vanished buckets (keys all deleted from the index)
    # drop in the same snapshot, so probes never see a window with NO
    # sidecar and n_keys monitoring stays honest
    try:
        old = read_table(spark, bloom_path).select("bucket")
        gone = old.join(blooms.select("bucket"), "bucket", "left_anti")
    except FileNotFoundError:
        gone = None
    upsert_by_key(spark, bloom_path, blooms, ["bucket"], n_buckets=4, deletes=gone)
    return {
        int(r["bucket"]): int(r["n_keys"])
        for r in blooms.select("bucket", "n_keys").collect()
    }


def dedup_batch_sink(
    spark: SparkSession,
    batch_df: DataFrame,
    index_path: str,
    corpus_path: str,
    stats_path: str | None = None,
    epoch_id: int = 0,
    n_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    jaccard_tau: float = 0.5,
    n_buckets: int = 64,
    max_band_df: int | None = None,
    bloom_path: str | None = None,
    bloom_n_hash: int = 3,
    bloom_hex_digits: int = 5,
) -> None:
    """One micro-batch of ``(doc_id, text, ...)`` rows through the
    dedup-ingest commit protocol (corpus upsert, then the bloom-sidecar
    merge when enabled, then index append, then the per-epoch stats
    row).  Exposed separately so a BATCH backfill can reuse the exact
    streaming semantics.

    ``bloom_path`` (optional) maintains a Bloom membership sidecar
    (``operators/bloom``) next to the index and uses it two ways: the
    exact-dup path of :func:`incremental_dedup` scans ONLY the index
    buckets some batch key probe-hit (an all-new batch touches zero
    base data on that path), and the sidecar itself is kept current by
    merging a bloom built over just the appended keys (O(batch), never
    re-reading base keys).  A bloomed index is CONTENT-keyed — committed
    with ``keys=["text_hash"]`` so the physical bucket IS the probe
    bucket; enabling ``bloom_path`` over an existing ``doc_id``-keyed
    index raises rather than mis-prune.  Commit order is corpus →
    bloom → index: a bloom may safely over-approximate an index it
    leads (false positives only), while an index commit the bloom
    hasn't seen yet would be a false NEGATIVE — a dup waved through —
    on the very next batch if the orders were swapped."""
    if batch_df.isEmpty():
        return
    idx_manifest = read_manifest(spark, index_path)
    if bloom_path is not None and idx_manifest is not None:
        if idx_manifest["bucket_col"] != "text_hash":
            raise ValueError(
                "bloom_path requires a text_hash-keyed index; "
                f"{index_path} is bucketed by "
                f"{idx_manifest['bucket_col']!r} (re-key the index or "
                "disable the sidecar)"
            )
    index_keys = ["text_hash"] if bloom_path is not None else ["doc_id"]
    if idx_manifest is None:  # first batch: nothing committed yet
        index = build_dedup_index(batch_df.limit(0))
    else:
        index = scan_manifest(spark, index_path, idx_manifest).select(
            "doc_id", "text_hash", "sig"
        )

    exact_index = None
    idx_buckets = idx_manifest["n_buckets"] if idx_manifest else n_buckets
    if bloom_path is not None and idx_manifest is not None:
        exact_index = _bloom_prefilter(
            spark,
            batch_df,
            index_path,
            idx_manifest,
            bloom_path,
            index,
            bloom_n_hash,
            bloom_hex_digits,
        )

    with held() as ledger:
        ann = incremental_dedup(
            batch_df,
            index,
            n_hashes=n_hashes,
            bands=bands,
            shingle_n=shingle_n,
            jaccard_tau=jaccard_tau,
            persisted=ledger,
            max_band_df=max_band_df,
            exact_index=exact_index,
        )
        ann = persist(ann, ledger)
        kept = ann.filter("keep")
        kept_docs = batch_df.join(kept.select("doc_id"), "doc_id")
        upsert_by_key(
            spark, corpus_path, kept_docs, ["doc_id"], n_buckets=n_buckets
        )
        if bloom_path is not None:
            _merge_bloom_sidecar(
                spark,
                bloom_path,
                kept.select("text_hash").withColumn(
                    "bucket", table_bucket_col(F.col("text_hash"), idx_buckets)
                ),
                bloom_n_hash,
                bloom_hex_digits,
            )
        upsert_by_key(
            spark,
            index_path,
            kept.select("doc_id", "text_hash", "sig"),
            index_keys,
            n_buckets=n_buckets,
        )
        if stats_path is not None:
            stats = ann.agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum(F.col("keep").cast("long")).alias("n_kept"),
                F.sum(F.col("dup_exact").cast("long")).alias("n_dup_exact"),
                F.sum(F.col("dup_near").cast("long")).alias("n_dup_near"),
                F.sum(F.col("dup_in_batch").cast("long")).alias(
                    "n_dup_in_batch"
                ),
            ).withColumn("epoch_id", F.lit(int(epoch_id)).cast("long"))
            upsert_by_key(
                spark, stats_path, stats, ["epoch_id"], n_buckets=4
            )


def start_dedup_stream(
    stream: DataFrame,
    index_path: str,
    corpus_path: str,
    checkpoint_dir: str,
    stats_path: str | None = None,
    n_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    jaccard_tau: float = 0.5,
    n_buckets: int = 64,
    max_band_df: int | None = None,
    trigger_once: bool = False,
    bloom_path: str | None = None,
    bloom_n_hash: int = 3,
    bloom_hex_digits: int = 5,
):
    """Attach the dedup-ingest sink to any streaming DataFrame with
    ``doc_id`` and ``text`` columns (file drop, Kafka-shaped source,
    rate source in tests).  Returns the started ``StreamingQuery``.

    ``stats_path`` (optional) keeps one row per epoch — docs seen /
    kept / dup-by-class — keyed on ``epoch_id`` so replays overwrite
    rather than double-count (the exact at-least-once fix the batch
    pipeline's accumulator metrics document).

    ``bloom_path`` (optional) maintains the Bloom membership sidecar
    and prunes the exact-dup path's base reads to probe-hit buckets —
    see :func:`dedup_batch_sink`."""
    spark = stream.sparkSession

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        dedup_batch_sink(
            spark,
            batch_df,
            index_path,
            corpus_path,
            stats_path=stats_path,
            epoch_id=epoch_id,
            n_hashes=n_hashes,
            bands=bands,
            shingle_n=shingle_n,
            jaccard_tau=jaccard_tau,
            n_buckets=n_buckets,
            max_band_df=max_band_df,
            bloom_path=bloom_path,
            bloom_n_hash=bloom_n_hash,
            bloom_hex_digits=bloom_hex_digits,
        )

    writer = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()

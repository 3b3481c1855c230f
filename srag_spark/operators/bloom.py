"""Bloom-filter membership index over dedup keys.

At 10^12 documents the :func:`srag_spark.operators.dedup.build_dedup_index`
table is itself corpus-sized, and the incremental-dedup exact path — one
broadcast semi-join of the new batch against the base index — still has to
SCAN every base bucket.  The standard lake answer (Iceberg/Parquet bloom
filters, CCNet per-snapshot hash sets) is a compact membership sidecar:
one Bloom bitmap per key bucket, built once per commit, small enough to
broadcast, answering "is this key POSSIBLY in the base?" without touching
base data.  Batch keys whose probe misses are *definitely new* — they skip
the base join entirely; only buckets with at least one probe hit need
their index rows read (manifest-level pruning via ``buckets=``).

Design (cross-engine-exact, so the probe verdict has a DuckDB oracle):

* ``n_hash`` hash functions; hash ``i`` of key ``key`` is the first
  ``hex_digits`` hex chars of ``md5(i || ':' || key)`` — identical hex in
  Spark, DuckDB, and Python.
* the bit space is ``m = 16^hex_digits`` bits, so the mod-m reduction is
  literally the hex-substring truncation: the bitmap position IS the hex
  prefix, and an engine that never materializes the bitmap (the oracle)
  can reproduce every verdict as "all ``n_hash`` position strings appear
  in the base's distinct (bucket, position) set".  The bitmap build and
  the position-set formulation are equivalent by construction.
* per bucket the bitmap is ``array<bigint>`` of ``16^hex_digits / 64``
  words (``hex_digits=5`` → 128 KiB; ``=7`` → 32 MiB).  Sizing: with
  ``n`` keys in a bucket, FP rate ≈ ``(1 - exp(-n_hash·n/m))^n_hash`` —
  pick ``hex_digits`` so ``m ≥ ~10·n`` for ~1% at ``n_hash=3``.

Everything is native column work (md5 + conv + bit arithmetic inside
whole-stage codegen): no UDFs, no driver loops.  The build is one explode
(``n_hash`` rows per key) + two map-side-combinable groupBys; the probe is
one equi-join against the tiny bloom table + a row-local ``forall``.

Reference parity: none (the reference dedups nothing incrementally);
public practice: Iceberg bloom-filter file metrics, CCNet hash snapshots,
Lee et al. 2022's per-shard dedup indexes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from srag_spark.sources.tables import _key_bucket


def _pow2():
    """2^b for b in 0..63 as a literal long array (bit 63 wraps to the
    sign bit — the Python literal -(2**63) is exactly that bit pattern).
    A literal lookup keeps the mask computable inside higher-order
    lambdas, where pyspark's shiftleft(col, int) wrapper can't take a
    column shift.  Built lazily: F.lit needs an active session."""
    return F.array(
        *[F.lit((1 << b) if b < 63 else -(2**63)).cast("long") for b in range(64)]
    )


def bloom_positions(key_col, n_hash: int = 3, hex_digits: int = 5):
    """``array<bigint>`` of the key's ``n_hash`` bit positions in
    ``[0, 16^hex_digits)``.  ``hex_digits`` ≤ 12 keeps every position
    below 2^48, where the floor-division word math stays exact."""
    if not 1 <= hex_digits <= 12:
        raise ValueError("hex_digits must be in [1, 12]")
    return F.transform(
        F.sequence(F.lit(0), F.lit(n_hash - 1)),
        lambda i: F.conv(
            F.substring(
                F.md5(F.concat(i.cast("string"), F.lit(":"), key_col)),
                1,
                hex_digits,
            ),
            16,
            10,
        ).cast("long"),
    )


def build_bloom(
    keys: DataFrame,
    key_col: str,
    bucket_col: str = "bucket",
    n_hash: int = 3,
    hex_digits: int = 5,
) -> DataFrame:
    """One Bloom bitmap per bucket over ``keys[key_col]``.

    Returns ``(bucket, bitmap: array<bigint>, n_keys: bigint)``.  The
    caller supplies the bucket column (so the sidecar can share the
    owning table's bucketing); ``n_keys`` is recorded for FP-rate
    monitoring (rebuild the bucket at a larger ``hex_digits`` when
    ``n_keys`` outgrows the bit space).

    Plan shape: explode to ``n_hash`` position rows per key, fold to one
    row per (bucket, word) with a ``bit_or`` of masks — both groupBys
    combine map-side — then assemble the fixed-width word array from a
    per-bucket map (missing words are zero).  Output rows: one per
    bucket; output bytes: ``n_buckets · 16^hex_digits / 8``.
    """
    n_words = (16**hex_digits) // 64 if hex_digits >= 2 else 1
    pos = keys.select(
        F.col(bucket_col).alias("bucket"),
        F.col(key_col).alias("_k"),
        F.explode(bloom_positions(F.col(key_col), n_hash, hex_digits)).alias(
            "_pos"
        ),
    )
    words = (
        pos.select(
            "bucket",
            F.floor(F.col("_pos") / 64).cast("int").alias("_word"),
            F.element_at(
                _pow2(), (F.col("_pos").bitwiseAND(F.lit(63))).cast("int") + 1
            ).alias("_mask"),
        )
        .groupBy("bucket", "_word")
        .agg(F.bit_or("_mask").alias("_bits"))
    )
    counts = keys.groupBy(F.col(bucket_col).alias("bucket")).agg(
        F.count_distinct(F.col(key_col)).alias("n_keys")
    )
    bitmaps = (
        words.groupBy("bucket")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("_word", "_bits"))
            ).alias("_wm")
        )
        .select(
            "bucket",
            F.transform(
                F.sequence(F.lit(0), F.lit(n_words - 1)),
                lambda w: F.coalesce(
                    F.element_at(F.col("_wm"), w.cast("int")),
                    F.lit(0).cast("long"),
                ),
            ).alias("bitmap"),
        )
    )
    return bitmaps.join(counts, "bucket").select("bucket", "bitmap", "n_keys")


def bloom_probe(
    batch: DataFrame,
    blooms: DataFrame,
    key_col: str,
    bucket_col: str = "bucket",
    n_hash: int = 3,
    hex_digits: int = 5,
    hit_col: str = "bloom_hit",
) -> DataFrame:
    """``batch`` + boolean ``hit_col``: false ⇒ the key is DEFINITELY
    not in the base the blooms were built over (no false negatives);
    true ⇒ possibly present (verify via the real index join).

    ``n_hash`` / ``hex_digits`` must match the build.  The bloom table
    is broadcast (it is ``n_buckets`` rows by design); rows whose bucket
    has no bloom (an empty base bucket) probe to false.  The probe
    itself is row-local — one ``forall`` over the key's positions
    testing bits of the joined bitmap — so the only data movement is
    the broadcast."""
    probe = F.forall(
        bloom_positions(F.col(key_col), n_hash, hex_digits),
        lambda p: (
            F.element_at(
                F.col("_bloom_bitmap"), F.floor(p / 64).cast("int") + 1
            ).bitwiseAND(
                F.element_at(_pow2(), (p.bitwiseAND(F.lit(63))).cast("int") + 1)
            )
            != 0
        ),
    )
    side = F.broadcast(
        blooms.select(
            F.col("bucket").alias("_bloom_bucket"),
            F.col("bitmap").alias("_bloom_bitmap"),
        )
    )
    return (
        batch.join(
            side, batch[bucket_col] == F.col("_bloom_bucket"), "left"
        )
        .withColumn(
            hit_col,
            F.when(F.col("_bloom_bitmap").isNull(), F.lit(False)).otherwise(
                probe
            ),
        )
        .drop("_bloom_bucket", "_bloom_bitmap")
    )


def md5_bucket_col(key_col, n_buckets: int):
    """Engine-agnostic bucket id in ``[0, n_buckets)`` from the key's
    md5 — the cross-engine twin of the table layer's xxhash64 bucketing,
    used when the bloom sidecar must be oracle-reproducible.  (A sidecar
    attached to a manifest table uses the TABLE's bucket column instead,
    so probe hits prune the same buckets the manifest prunes.)"""
    return (
        F.conv(F.substring(F.md5(key_col), 1, 12), 16, 10).cast("long")
        % F.lit(n_buckets)
    ).cast("int")


def table_bucket_col(key_col, n_buckets: int):
    """The manifest table layer's physical bucket id
    (``pmod(xxhash64(key), n_buckets)`` — ``sources.tables``) for
    ``key_col``.  A bloom sidecar attached to a committed table MUST use
    this bucket so probe-hit buckets are exactly the buckets
    ``read_table(buckets=...)`` can prune to; use
    :func:`md5_bucket_col` only for the oracle-reproducible standalone
    form."""
    return _key_bucket(key_col, n_buckets)


def bloom_from_index(
    index: DataFrame,
    n_buckets: int = 32,
    n_hash: int = 3,
    hex_digits: int = 5,
) -> DataFrame:
    """Bloom sidecar over a :func:`dedup.build_dedup_index` table's
    ``text_hash`` keys, bucketed by :func:`md5_bucket_col`.  Commit the
    result with ``tables.upsert_by_key(keys=["bucket"])`` next to the
    index; rebuild touched buckets on each index append (the build is
    O(appended keys) when fed only the new rows and merged with
    :func:`merge_blooms`)."""
    keys = index.select(
        "text_hash", md5_bucket_col(F.col("text_hash"), n_buckets).alias("bucket")
    )
    return build_bloom(keys, "text_hash", "bucket", n_hash, hex_digits)


def merge_blooms(a: DataFrame, b: DataFrame) -> DataFrame:
    """Union two bloom sidecars built with the SAME (n_hash, hex_digits):
    per-bucket bitwise OR of bitmaps (``zip_with``), n_keys summed as an
    upper bound (keys present in both sides double-count — the bound is
    conservative, which is the safe direction for FP-rate monitoring).
    Blooms are mergeable the way sketches are: the incremental-commit
    path builds a bloom over ONLY the appended keys and ORs it in,
    never re-reading base keys."""
    ua = a.select("bucket", F.col("bitmap").alias("_ba"), F.col("n_keys").alias("_na"))
    ub = b.select("bucket", F.col("bitmap").alias("_bb"), F.col("n_keys").alias("_nb"))
    return (
        ua.join(ub, "bucket", "full_outer")
        .select(
            "bucket",
            F.when(F.col("_ba").isNull(), F.col("_bb"))
            .when(F.col("_bb").isNull(), F.col("_ba"))
            .otherwise(
                F.zip_with("_ba", "_bb", lambda x, y: x.bitwiseOR(y))
            )
            .alias("bitmap"),
            (
                F.coalesce("_na", F.lit(0)) + F.coalesce("_nb", F.lit(0))
            ).alias("n_keys"),
        )
    )

"""Multimodal column operators: media payloads as opaque binary + typed
metadata, processed through Arrow-batched pandas UDFs.

The reference stores media as MinIO blobs keyed by UUID
(MinioAdapter.scala:26-58) and sends audio to external ASR services; our
span model carries ``media_ref`` anchors.  This module supplies the
engine-side plumbing a training-data pipeline needs over such columns:

* a fixed media table schema (ref, binary payload, typed metadata);
* decode / feature-extract / resize / frame-sample stages as
  ``mapInPandas`` operators with real schemas, partitioning, and batch
  shapes;
* the actual codec calls are STUBBED: image/audio/video libraries are
  not in this container, so ``decode_media`` uses a deterministic fake
  decoder keyed on the payload hash (clearly marked), and
  ``require_real_codecs()`` raises ``NotImplementedError`` where a real
  deployment would import PIL/ffmpeg.  Swapping the fake for a real
  codec changes ONE function; every Spark-side contract stays fixed and
  tested.
"""

from __future__ import annotations

import hashlib
import math
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from srag_spark.functions.planning import spread_input

MEDIA_SCHEMA = StructType(
    [
        StructField("media_ref", StringType(), False),
        StructField("media_type", StringType(), False),  # image|audio|video
        StructField("payload", BinaryType(), True),      # opaque bytes
        StructField("metadata", MapType(StringType(), StringType()), True),
    ]
)

DECODED_SCHEMA = StructType(
    [
        StructField("media_ref", StringType(), False),
        StructField("media_type", StringType(), False),
        StructField("width", IntegerType(), True),        # images/video
        StructField("height", IntegerType(), True),
        StructField("duration_ms", IntegerType(), True),  # audio/video
        StructField("n_frames", IntegerType(), True),     # video
        StructField("decode_ok", StringType(), False),    # ok|error:<msg>
    ]
)

FEATURES_SCHEMA = StructType(
    [
        StructField("media_ref", StringType(), False),
        StructField("feature", ArrayType(FloatType()), False),  # dim 64
    ]
)

FEATURE_DIM = 64


def require_real_codecs() -> None:
    """Real deployments import PIL / soundfile / av here."""
    raise NotImplementedError(
        "image/audio/video codecs are not available in this container; "
        "decode_media uses the deterministic fake decoder"
    )


def _fake_decode(payload: bytes, media_type: str) -> dict:
    """Deterministic stand-in for a codec: derives plausible dimensions
    from the payload hash.  CLEARLY A FAKE — replace with PIL/ffmpeg in a
    real deployment (see require_real_codecs)."""
    if payload is None or len(payload) == 0:
        raise ValueError("empty payload")
    h = hashlib.sha256(payload).digest()
    if media_type == "image":
        return {
            "width": 320 + h[0] * 8,
            "height": 240 + h[1] * 8,
            "duration_ms": None,
            "n_frames": None,
        }
    if media_type == "audio":
        return {
            "width": None,
            "height": None,
            "duration_ms": 1000 + int.from_bytes(h[2:4], "big") % 600000,
            "n_frames": None,
        }
    if media_type == "video":
        dur = 1000 + int.from_bytes(h[4:6], "big") % 600000
        return {
            "width": 320 + h[0] * 8,
            "height": 240 + h[1] * 8,
            "duration_ms": dur,
            "n_frames": max(1, dur // 40),
        }
    raise ValueError(f"unknown media_type {media_type!r}")


def decode_media(media: DataFrame) -> DataFrame:
    """Decode stage: binary payload → typed dimensions.

    mapInPandas over MEDIA_SCHEMA rows; per-row codec errors are captured
    in ``decode_ok`` (the pipeline never dies on one bad blob — mirrors
    the reference's per-job failure isolation, J6).  The input is spread
    first (guide §2.5): the Python decode's parallelism is the scan's
    partition count (no-op at scale)."""
    media = spread_input(media)

    def run(batches: Iterator) -> Iterator:
        import pandas as pd  # noqa: PLC0415

        for pdf in batches:
            rows = []
            for ref, mtype, payload in zip(
                pdf["media_ref"], pdf["media_type"], pdf["payload"]
            ):
                try:
                    d = _fake_decode(payload, mtype)
                    rows.append(
                        {
                            "media_ref": ref,
                            "media_type": mtype,
                            **d,
                            "decode_ok": "ok",
                        }
                    )
                except (ValueError, TypeError) as exc:
                    rows.append(
                        {
                            "media_ref": ref,
                            "media_type": mtype,
                            "width": None,
                            "height": None,
                            "duration_ms": None,
                            "n_frames": None,
                            "decode_ok": f"error:{exc}",
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_ref", "media_type", "width", "height",
                    "duration_ms", "n_frames", "decode_ok",
                ],
            )

    return media.mapInPandas(run, schema=DECODED_SCHEMA)


def hash_feature_vec(payload: bytes, dim: int = FEATURE_DIM) -> list[float]:
    """Engine-agnostic deterministic feature vector of a payload.

    Frozen spec (every step reproducible in the DuckDB oracle at
    ``__spark_entry__._mm_features_sql`` — identical IEEE-double operation
    order, so the results are bit-identical cross-engine):

      * block b (16 dims each): digest_b = sha256(payload ++ b":{b}");
      * raw_j = 256·digest[2j] + digest[2j+1]  (uint16 big-endian);
      * v_j   = (raw_j / 65535.0) · 2.0 − 1.0  (double, in [−1, 1]);
      * norm  = sqrt(Σ v_j² left-to-right);  feature_j = float32(v_j/norm).

    A real vision/audio encoder replaces THIS function only — the
    mapInPandas plumbing, schema, and batch shape stay fixed."""
    vals: list[float] = []
    for b in range(dim // 16):
        digest = hashlib.sha256((payload or b"") + f":{b}".encode()).digest()
        for j in range(16):
            raw = digest[2 * j] * 256 + digest[2 * j + 1]
            vals.append((raw / 65535.0) * 2.0 - 1.0)
    acc = 0.0
    for v in vals:
        acc += v * v
    norm = math.sqrt(acc) or 1.0  # math.sqrt == IEEE sqrt == DuckDB sqrt
    return [v / norm for v in vals]


def extract_features(media: DataFrame) -> DataFrame:
    """Feature-extract stage: payload → unit-norm float[64].

    Deterministic sha256-derived features stand in for a vision/audio
    encoder (see :func:`hash_feature_vec` — exactly oracle-reproducible);
    the Arrow batch shape (one vector per row, fixed dim) is what a real
    encoder batch would produce.  The input is spread first (guide
    §2.5, same as :func:`decode_media`): the per-row Python encoder's
    parallelism is otherwise the scan's 1-2 partitions (measured 3.0 s
    → 1.3 s at sfx10; no-op at scale)."""
    media = spread_input(media)

    def run(batches: Iterator) -> Iterator:
        import numpy as np  # noqa: PLC0415
        import pandas as pd  # noqa: PLC0415

        for pdf in batches:
            feats = [
                np.asarray(hash_feature_vec(p), dtype=np.float32).tolist()
                for p in pdf["payload"]
            ]
            yield pd.DataFrame(
                {"media_ref": pdf["media_ref"], "feature": feats}
            )

    return media.mapInPandas(run, schema=FEATURES_SCHEMA)


def frame_sample_plan(decoded: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Frame-sampling plan for videos: one row per sampled timestamp —
    pure native (sequence + explode), ready to feed a real frame decoder."""
    vids = decoded.filter(
        (F.col("media_type") == "video") & (F.col("decode_ok") == "ok")
    )
    return vids.select(
        "media_ref",
        F.explode(
            F.sequence(F.lit(0), F.col("duration_ms") - 1, F.lit(every_ms))
        ).alias("sample_ms"),
    )


def synth_media_table(spark, n: int = 100, seed: int = 42) -> DataFrame:
    """Deterministic fake media blobs for tests/benches."""
    import random

    rows = []
    for i in range(n):
        rng = random.Random(f"{seed}:media:{i}")
        mtype = rng.choice(["image", "audio", "video"])
        payload = bytes(rng.getrandbits(8) for _ in range(rng.randint(64, 512)))
        if rng.random() < 0.05:
            payload = b""  # decode-error path
        rows.append(
            (f"blob://bucket/m/{i:06d}", mtype, payload, {"idx": str(i)})
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)

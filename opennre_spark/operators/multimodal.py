"""Multimodal columns for training-data pipelines: image/audio/video as
opaque `binary` payloads with typed metadata, processed by Arrow-batched
kernels over mapInArrow (r7: converted from mapInPandas — no pandas
row/object materialization on either side of the boundary).

The image/audio decode libraries are NOT in this container, so the
decode step is STUBBED behind `decode_stub` — a deterministic fake
that derives pixel statistics from the payload bytes. Everything
Spark-side is real and tested: schema contracts, batch shapes,
partition-preserving plumbing, and the UDF signatures a real decoder
would drop into (replace `decode_stub` with PIL/ffmpeg calls on a
cluster that has them).
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("kind", T.StringType(), False),  # image | audio | video
    T.StructField("payload", T.BinaryType(), False),
    T.StructField(
        "meta",
        T.StructType([
            T.StructField("width", T.IntegerType(), True),
            T.StructField("height", T.IntegerType(), True),
            T.StructField("channels", T.IntegerType(), True),
            T.StructField("sample_rate", T.IntegerType(), True),
            T.StructField("n_frames", T.IntegerType(), True),
        ]),
        False,
    ),
])

FEATURE_DIM = 32


def _payload_bytes(seed: int, mid: int) -> bytes:
    """Deterministic fake payload: an md5 chain over (seed, media_id) —
    chosen over a PCG stream (round 5) precisely so a SQL oracle can
    recompute the bytes: chunk j is md5(f"{seed}:{mid}:{j}"), hex
    chunks concatenate and truncate to the target length. Any
    deterministic filler works for the decode stub; this one is
    engine-neutral."""
    need_hex = (512 + mid % 512) * 2
    parts: list[str] = []
    j = 0
    total = 0
    while total < need_hex:
        h = hashlib.md5(f"{seed}:{mid}:{j}".encode()).hexdigest()
        parts.append(h)
        total += len(h)
        j += 1
    return bytes.fromhex("".join(parts)[:need_hex])


def synthetic_media(spark: SparkSession, n: int, seed: int = 5) -> DataFrame:
    """Deterministic fake media table: payload bytes are a pure function
    of (media_id, seed) — generated distributed, never on the driver.
    mapInArrow (r7, VERDICT r6 #4): same bytes, no pandas row/dict
    materialization on the way out."""

    def gen(batches: Iterator) -> Iterator:
        import pyarrow as pa

        kinds = ["image", "audio", "video"]
        for rb in batches:
            mids = [int(m) for m in rb.column("id").to_pylist()]
            if not mids:
                continue
            kind = [kinds[m % 3] for m in mids]
            payloads = [_payload_bytes(seed, m) for m in mids]
            meta = pa.StructArray.from_arrays(
                [
                    pa.array(
                        [64 + (m % 4) * 32 if k != "audio" else None
                         for m, k in zip(mids, kind)],
                        type=pa.int32(),
                    ),
                    pa.array(
                        [64 + (m % 3) * 32 if k != "audio" else None
                         for m, k in zip(mids, kind)],
                        type=pa.int32(),
                    ),
                    pa.array(
                        [3 if k == "image" else None for k in kind],
                        type=pa.int32(),
                    ),
                    pa.array(
                        [16000 if k == "audio" else None for k in kind],
                        type=pa.int32(),
                    ),
                    pa.array(
                        [1 + m % 30 if k == "video" else None
                         for m, k in zip(mids, kind)],
                        type=pa.int32(),
                    ),
                ],
                names=["width", "height", "channels", "sample_rate", "n_frames"],
            )
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(mids, type=pa.int64()),
                    pa.array(kind, type=pa.string()),
                    pa.array(payloads, type=pa.binary()),
                    meta,
                ],
                names=["media_id", "kind", "payload", "meta"],
            )

    return spark.range(0, n, numPartitions=8).mapInArrow(gen, schema=MEDIA_SCHEMA)


def decode_stub(payload: bytes) -> np.ndarray:
    """STUB for the real decoder (PIL.Image.open / soundfile / ffmpeg).

    Deterministic fake: a FEATURE_DIM float32 vector from an md5 chain
    over the payload's hex rendering — word k*4+w is the w-th big-endian
    uint32 of md5(f"{payload_hex}:{k}"), scaled into [0, 1) via
    (word % 1000) / 1000 (exactly 3 decimals, so 6-decimal formatting
    is engine-stable). Content-hashed (identical payloads -> identical
    features) and SQL-recomputable, which is what lets the
    media_feature_extract driver query carry a full DuckDB oracle. A
    real deployment swaps only this function; the Spark plumbing
    (batching, schema, partitioning) is unchanged."""
    hexp = payload.hex()
    vals = []
    for k in range(FEATURE_DIM // 4):
        h = hashlib.md5(f"{hexp}:{k}".encode()).hexdigest()
        for w in range(4):
            vals.append((int(h[w * 8 : (w + 1) * 8], 16) % 1000) / 1000.0)
    return np.array(vals, dtype=np.float32)


FEATURES_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("kind", T.StringType(), False),
    T.StructField("features", T.ArrayType(T.FloatType()), False),
    T.StructField("n_bytes", T.IntegerType(), False),
])


def extract_features(media: DataFrame) -> DataFrame:
    """Decode + feature-extract each payload (Arrow-batched; the numpy
    work is vectorized per batch where the decode allows). Narrow — no
    shuffle; runs wherever the media rows live."""

    def feature_kernel(batches: Iterator) -> Iterator:
        import pyarrow as pa
        import pyarrow.compute as pc

        from .scoring import _list_f32

        for rb in batches:
            if not rb.num_rows:
                continue
            pay = rb.column("payload")
            feats = np.stack([decode_stub(v.as_py()) for v in pay])
            yield pa.RecordBatch.from_arrays(
                [
                    pc.cast(rb.column("media_id"), pa.int64()),
                    rb.column("kind"),
                    _list_f32(feats),
                    pc.cast(pc.binary_length(pay), pa.int32()),
                ],
                names=["media_id", "kind", "features", "n_bytes"],
            )

    return media.select("media_id", "kind", "payload").mapInArrow(
        feature_kernel, schema=FEATURES_SCHEMA
    )


def feature_digests(media: DataFrame) -> DataFrame:
    """Driver/report-facing rendition of extract_features: the feature
    vector is folded to a sortable scalar digest (md5 over the
    6-decimal rendering of each component) so downstream tooling that
    sorts/hashes rows never sees a raw array column. Library users who
    need the vectors call extract_features directly."""
    feats = extract_features(media)
    digest = F.md5(
        F.concat_ws(
            ",",
            F.transform("features", lambda x: F.format_number(x.cast("double"), 6)),
        )
    )
    return feats.select(
        "media_id", "kind", "n_bytes", digest.alias("feature_digest")
    )


def frame_sample(media: DataFrame, every_k: int = 5) -> DataFrame:
    """Video frame sampling plumbing: one output row per sampled frame
    index (real decoder would attach the frame payload). Pure Spark —
    the index fan-out needs no Python."""
    v = media.filter(F.col("kind") == "video")
    frames = F.sequence(
        F.lit(0), F.col("meta.n_frames") - 1, F.lit(every_k)
    )
    return v.select(
        "media_id",
        F.explode(frames).alias("frame_idx"),
        F.col("meta.n_frames").alias("n_frames"),
    )


def resize_plan(media: DataFrame, max_side: int = 64) -> DataFrame:
    """Resize planning (pure metadata math in Spark): target dims
    preserving aspect ratio; the pixel work itself belongs to the
    decode stub's replacement."""
    img = media.filter(F.col("kind") == "image")
    w, h = F.col("meta.width"), F.col("meta.height")
    scale = F.least(F.lit(max_side) / w, F.lit(max_side) / h, F.lit(1.0))
    return img.select(
        "media_id",
        w.alias("src_width"),
        h.alias("src_height"),
        F.round(w * scale).cast("int").alias("dst_width"),
        F.round(h * scale).cast("int").alias("dst_height"),
    )

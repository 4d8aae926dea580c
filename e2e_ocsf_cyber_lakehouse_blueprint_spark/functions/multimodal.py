"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride as ``binary`` columns with a metadata struct; decode /
feature-extract / resize / frame-sample run as Arrow-batched ``mapInPandas``
kernels. The decode step itself is STUBBED (this container ships no image/audio
codecs — see `_decode_stub`); everything Spark-side is real and tested: schema,
batch iteration, partition sizing, UDF signatures, deterministic fake features.

At 100TB the pattern matters more than the codec: binary payloads must never be
shuffled wider than needed (feature extraction happens before any groupBy, and
the payload column is dropped as early as possible), and ``mapInPandas`` keeps
per-batch memory bounded by ``spark.sql.execution.arrow.maxRecordsPerBatch``.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import local_frame

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("kind", T.StringType()),          # image | audio | video
    T.StructField("payload", T.BinaryType()),
    T.StructField("meta", T.StructType([
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.IntegerType()),
        T.StructField("codec", T.StringType()),
    ])),
])

FEATURE_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("kind", T.StringType()),
    T.StructField("payload_sha", T.StringType()),
    T.StructField("n_bytes", T.IntegerType()),
    T.StructField("feature", T.ArrayType(T.FloatType())),
])

FEATURE_DIM = 16


def _decode_stub(payload: bytes, kind: str) -> np.ndarray:
    """STUB decoder. A real deployment plugs Pillow/torchaudio/pyav here.

    Deterministic fake: 16 floats derived from the payload digest, so tests
    assert exact values and the full pipeline is reproducible without codecs.
    """
    if payload is None:
        raise NotImplementedError("real media decode requires codec libraries")
    digest = hashlib.sha256(payload).digest()
    return (np.frombuffer(digest[:FEATURE_DIM * 2], dtype=np.uint16)
            .astype(np.float32) / 65535.0)


def extract_features(df: DataFrame) -> DataFrame:
    """media table -> feature table via mapInPandas (payload dropped on output)."""

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats, shas, sizes = [], [], []
            for payload, kind in zip(pdf["payload"], pdf["kind"]):
                raw = bytes(payload) if payload is not None else b""
                shas.append(hashlib.sha256(raw).hexdigest())
                sizes.append(len(raw))
                feats.append(_decode_stub(raw, kind).tolist())
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "payload_sha": shas,
                "n_bytes": pd.Series(sizes, dtype="int32"),
                "feature": feats,
            })

    return df.mapInPandas(_extract, FEATURE_SCHEMA)


def sample_frames(df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Frame-sampling plumbing for video rows: one output row per sampled
    timestamp (frame decode itself stubbed to the payload digest)."""
    out_schema = T.StructType([
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_ts_ms", T.IntegerType()),
        T.StructField("frame_sha", T.StringType()),
    ])

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, tss, shas = [], [], []
            for mid, payload, dur in zip(
                pdf["media_id"], pdf["payload"], pdf["duration_ms"]
            ):
                raw = bytes(payload) if payload is not None else b""
                for ts in range(0, int(dur or 0), every_ms):
                    ids.append(mid)
                    tss.append(ts)
                    shas.append(hashlib.sha256(raw + ts.to_bytes(4, "little")).hexdigest())
            yield pd.DataFrame({
                "media_id": pd.Series(ids, dtype="int64"),
                "frame_ts_ms": pd.Series(tss, dtype="int32"),
                "frame_sha": shas,
            })

    flat = df.select("media_id", "payload", F.col("meta.duration_ms").alias("duration_ms"))
    return flat.mapInPandas(_sample, out_schema)


def _pseudo_pixels(payload: bytes, w: int, h: int) -> np.ndarray:
    """STUB pixel decode: tile the payload bytes into an (h, w) uint8 grid.
    Deterministic so the resample kernel below is exactly testable."""
    buf = np.frombuffer(payload, dtype=np.uint8)
    reps = -(-(w * h) // max(1, len(buf)))
    return np.tile(buf, reps)[: w * h].reshape(h, w)


def resize_images(df: DataFrame, width: int, height: int) -> DataFrame:
    """Resize plumbing for image rows: stub-decode to pseudo-pixels, then a
    REAL vectorized nearest-neighbor resample (numpy fancy indexing — this
    is the production kernel; only the pixel origin is stubbed), re-encoded
    as raw row-major bytes with the metadata struct updated. Payloads never
    leave the mapInPandas batch un-downsized, so a shuffle after resize
    moves the small image, not the original."""
    out_schema = T.StructType([
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("meta", MEDIA_SCHEMA["meta"].dataType),
    ])

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads, metas = [], []
            for payload, meta in zip(pdf["payload"], pdf["meta"]):
                raw = bytes(payload) if payload is not None else b""
                w0 = int(meta["width"] or 1)
                h0 = int(meta["height"] or 1)
                px = _pseudo_pixels(raw, w0, h0)
                ys = (np.arange(height) * h0 // height)
                xs = (np.arange(width) * w0 // width)
                resized = px[ys[:, None], xs[None, :]]
                payloads.append(bytearray(resized.tobytes()))
                metas.append({
                    "width": width, "height": height,
                    "duration_ms": meta["duration_ms"],
                    "codec": "raw-u8",
                })
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "payload": payloads,
                "meta": metas,
            })

    return df.filter(F.col("kind") == "image").mapInPandas(_resize, out_schema)


def synthetic_media(spark, n: int = 64, seed: int = 5) -> DataFrame:
    """Deterministic fake media table (payload = seeded bytes)."""
    rows = []
    kinds = ["image", "audio", "video"]
    for i in range(n):
        kind = kinds[i % 3]
        payload = hashlib.sha256(f"{seed}:{i}".encode()).digest() * (4 + i % 7)
        rows.append((
            i, kind, bytearray(payload),
            (64 + i % 512, 48 + i % 256, 1000 * (1 + i % 10), "stub"),
        ))
    return local_frame(spark, rows, MEDIA_SCHEMA)

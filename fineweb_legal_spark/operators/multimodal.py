"""Multimodal column plumbing: image/audio/video as opaque ``binary``
payloads + typed JSON metadata.

The Spark-side machinery — schema, Arrow batch shape, partitioning, UDF
signatures, frame explosion — is real and tested; the actual codec work is
STUBBED deterministically (this container has no image/audio libraries):
``decode_frames`` slices the payload by the metadata's frame geometry, and
``fake_embedding`` byte-histograms the payload. Swapping in PIL/ffmpeg later
changes only the marked inner functions, not the dataflow.
"""

from __future__ import annotations

import json
import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

KINDS = ("image", "audio", "video")


def generate_media(n: int, seed: int = 77) -> pd.DataFrame:
    """Deterministic synthetic media table:
    (media_id long, kind string, meta string(JSON), payload binary)."""
    rng = np.random.RandomState(seed)
    rows = {"media_id": [], "kind": [], "meta": [], "payload": []}
    for i in range(n):
        kind = KINDS[rng.randint(3)]
        if kind == "image":
            w, h, c = int(rng.randint(4, 32)), int(rng.randint(4, 32)), 3
            meta = {"width": w, "height": h, "channels": c}
            payload = rng.bytes(w * h * c)
        elif kind == "audio":
            sr, secs = 8000, int(rng.randint(1, 4))
            meta = {"sample_rate": sr, "seconds": secs, "sample_bytes": 2}
            payload = rng.bytes(sr * secs * 2)
        else:
            w, h, c, frames = 8, 8, 3, int(rng.randint(2, 12))
            meta = {"width": w, "height": h, "channels": c, "frames": frames}
            payload = rng.bytes(w * h * c * frames)
        rows["media_id"].append(i)
        rows["kind"].append(kind)
        rows["meta"].append(json.dumps(meta, sort_keys=True))
        rows["payload"].append(payload)
    return pd.DataFrame(rows)


def media_meta(df: DataFrame) -> DataFrame:
    """Native decode of the typed metadata + payload size (no UDF)."""
    return df.select(
        "media_id",
        "kind",
        F.get_json_object("meta", "$.width").cast("int").alias("width"),
        F.get_json_object("meta", "$.height").cast("int").alias("height"),
        F.get_json_object("meta", "$.channels").cast("int").alias("channels"),
        F.get_json_object("meta", "$.frames").cast("int").alias("frames"),
        F.length("payload").cast("long").alias("n_bytes"),
    )


_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.LongType()),
        T.StructField("frame_bytes", T.LongType()),
        T.StructField("frame_mean", T.DoubleType()),
    ]
)


def sample_frames(df: DataFrame, every_n: int = 2) -> DataFrame:
    """Frame sampling for video payloads (1-to-many, mapInPandas as UDTF).

    STUB: frames are fixed-size payload slices per the metadata geometry; a
    real implementation would call the video codec in the inner loop.
    """

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": [], "frame_idx": [], "frame_bytes": [], "frame_mean": []}
            for mid, meta_s, payload in zip(pdf["media_id"], pdf["meta"], pdf["payload"]):
                meta = json.loads(meta_s)
                fsize = meta["width"] * meta["height"] * meta["channels"]
                n_frames = len(payload) // fsize
                for fi in range(0, n_frames, every_n):
                    chunk = np.frombuffer(
                        payload[fi * fsize : (fi + 1) * fsize], dtype=np.uint8
                    )
                    out["media_id"].append(mid)
                    out["frame_idx"].append(fi)
                    out["frame_bytes"].append(fsize)
                    out["frame_mean"].append(round(float(chunk.mean()), 4))
            yield pd.DataFrame(out)

    return (
        df.filter(F.col("kind") == "video")
        .select("media_id", "meta", "payload")
        .mapInPandas(fn, schema=_FRAME_SCHEMA)
    )


_EMBED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ]
)


def fake_embedding(df: DataFrame, dim: int = 16) -> DataFrame:
    """Deterministic payload embedding (byte histogram, L2-normalized).

    STUB for a real vision/audio encoder: the Arrow batch shape, broadcast
    lifecycle, and output schema match what a torch encoder would use
    (reference D2 pattern, model_inference_stage2_cuda.py:232-303)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            embs = []
            for payload in pdf["payload"]:
                arr = np.frombuffer(payload, dtype=np.uint8)
                hist, _ = np.histogram(arr, bins=dim, range=(0, 256))
                # exact int64 sum of squares, then one float64 sqrt and
                # divide: a float32 norm rounds per host SIMD path and
                # flips 6th-decimal midpoints; float32 only at the schema
                n = math.sqrt(int((hist.astype(np.int64) ** 2).sum()))
                embs.append((hist / (n or 1.0)).round(6).tolist())
            yield pd.DataFrame({"media_id": pdf["media_id"], "embedding": embs})

    return df.select("media_id", "payload").mapInPandas(fn, schema=_EMBED_SCHEMA)

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


_FRAMES = "array<struct<frame_idx:bigint,frame_bytes:bigint,frame_mean:double>>"


def sample_frames(df: DataFrame, every_n: int = 2) -> DataFrame:
    """Frame sampling for video payloads (1-to-many: a scalar Arrow UDF
    returns each video's frames as an array, ``inline`` expands it).

    STUB: frames are fixed-size payload slices per the metadata geometry; a
    real implementation would call the video codec in the inner loop.
    """

    @F.pandas_udf(_FRAMES)
    def frames_kernel(metas: pd.Series, payloads: pd.Series) -> pd.Series:
        out = []
        for meta_s, payload in zip(metas, payloads):
            meta = json.loads(meta_s)
            fsize = meta["width"] * meta["height"] * meta["channels"]
            frames = []
            for fi in range(0, len(payload) // fsize, every_n):
                chunk = np.frombuffer(
                    payload[fi * fsize : (fi + 1) * fsize], dtype=np.uint8
                )
                frames.append(
                    {
                        "frame_idx": fi,
                        "frame_bytes": fsize,
                        "frame_mean": round(float(chunk.mean()), 4),
                    }
                )
            out.append(frames)
        return pd.Series(out, dtype=object)

    return df.filter(F.col("kind") == "video").select(
        "media_id", F.inline(frames_kernel("meta", "payload"))
    )


def fake_embedding(df: DataFrame, dim: int = 16) -> DataFrame:
    """Deterministic payload embedding (byte histogram, L2-normalized).

    STUB for a real vision/audio encoder: the Arrow batch shape, broadcast
    lifecycle, and output schema match what a torch encoder would use
    (reference D2 pattern, model_inference_stage2_cuda.py:232-303)."""

    @F.pandas_udf(T.ArrayType(T.FloatType()))
    def embed_kernel(payloads: pd.Series) -> pd.Series:
        embs = []
        for payload in payloads:
            arr = np.frombuffer(payload, dtype=np.uint8)
            hist, _ = np.histogram(arr, bins=dim, range=(0, 256))
            # exact int64 sum of squares, then one float64 sqrt and
            # divide: a float32 norm rounds per host SIMD path and
            # flips 6th-decimal midpoints; float32 only at the schema
            n = math.sqrt(int((hist.astype(np.int64) ** 2).sum()))
            embs.append((hist / (n or 1.0)).round(6).tolist())
        return pd.Series(embs, dtype=object)

    return df.select("media_id", embed_kernel("payload").alias("embedding"))

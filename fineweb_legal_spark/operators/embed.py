"""Deterministic in-engine document embeddings: hashed bag-of-words →
signed random projection.

The similarity family (`similarity.py`: brute/LSH/IVF/PQ ANN,
`embedding_neardup`, `semantic_dedup`) consumes an `array<float>`
embedding column. This module PRODUCES that column inside the engine —
no external model: tokens hash to a 2^vocab_bits bag (the classifier's
hashing-trick vocabulary, crc32), and the bag projects through a ±1
sign matrix derived by counter-based hashing (the sign-random-projection
form of Johnson–Lindenstrauss; same estimator family as
`dedup.simhash64`, but kept DENSE so cosine is preserved instead of
collapsed to a bitstring). Not a learned embedding — a deterministic
lexical one: cosine ≈ token-bag cosine. Right for near-dup detection,
clustering, and ANN plumbing; wrong for semantic paraphrase search (a
learned encoder drops into the same column).

Determinism contract (the repo-wide convention): token hashing is
crc32 (bit-equal to the classifier featurizer), the projection matrix
rows are a pure function of (seed, slot, component) via a
splitmix64-style mix — no RNG state, no executor-order dependence, so
the same document embeds identically on any engine, partitioning, or
retry.

Scale shape: one scalar Arrow UDF over the text (the id stays in the
JVM row); per Arrow batch the kernel materializes sign-matrix rows ONLY
for the token slots present (never the 2^vocab_bits × dim matrix), at
O(unique_slots × dim) numpy work; output rows are (id, array<float>) —
text never leaves the scan. Zero shuffle, zero broadcast artifacts.
"""

from __future__ import annotations

import zlib

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from fineweb_legal_spark.operators.decontam import ascii_words

__all__ = ["embed_docs", "embed_texts_numpy"]

_MIX1 = np.uint64(0xBF58476D1CE4E5B9)
_MIX2 = np.uint64(0x94D049BB133111EB)


def _sign_rows(slots: np.ndarray, dim: int, seed: int) -> np.ndarray:
    """(len(slots), dim) matrix of ±1 float32, each entry a pure function
    of (seed, slot, j): splitmix64-style avalanche, top bit → sign."""
    base = (
        slots.astype(np.uint64)[:, None] * np.uint64(dim)
        + np.arange(dim, dtype=np.uint64)[None, :]
        + np.uint64(seed) * np.uint64(0x9E3779B97F4A7C15)
    )
    z = base
    z = (z ^ (z >> np.uint64(30))) * _MIX1
    z = (z ^ (z >> np.uint64(27))) * _MIX2
    z = z ^ (z >> np.uint64(31))
    return np.where((z >> np.uint64(63)).astype(bool), 1.0, -1.0).astype(np.float32)


def embed_texts_numpy(
    texts: list[str | None], dim: int, vocab_bits: int, seed: int
) -> np.ndarray:
    """The shared kernel (Spark batches and the pytest twin call THIS):
    (len(texts), dim) float32, L2-normalized; empty/null text → zeros."""
    mask = np.uint32((1 << vocab_bits) - 1)
    out = np.zeros((len(texts), dim), dtype=np.float32)
    for i, t in enumerate(texts):
        words = ascii_words(t) if t else []
        if not words:
            continue
        slots = np.fromiter(
            (zlib.crc32(w.encode("utf-8", "surrogatepass")) & mask for w in words),
            dtype=np.uint32,
            count=len(words),
        )
        # counts per unique slot, slots sorted: the accumulation order is
        # fixed, so Spark and the twin sum identically
        u, counts = np.unique(slots, return_counts=True)
        vec = counts.astype(np.float32) @ _sign_rows(u, dim, seed)
        n = float(np.linalg.norm(vec))
        if n > 0:
            out[i] = vec / n
    return out


def embed_docs(
    df: DataFrame,
    dim: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_bits: int = 18,
    seed: int = 1,
) -> DataFrame:
    """(id, emb): deterministic lexical embedding per document (module
    doc). Plug the output straight into `similarity.py` /
    `cluster.semantic_dedup` as the embedding table."""

    @F.pandas_udf(T.ArrayType(T.FloatType()))
    def embed_kernel(texts: pd.Series) -> pd.Series:
        embs = embed_texts_numpy(texts.tolist(), dim, vocab_bits, seed)
        return pd.Series(list(embs))

    return df.select(
        F.col(id_col).alias("id"), embed_kernel(text_col).alias("emb")
    )

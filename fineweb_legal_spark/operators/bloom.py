"""Bloom-filter semi-join reduction for the dedup-registry anti-join.

The incremental-ingest hot path joins a new slice (10^9 turns/day)
against the cross-run dedup registry (10^12 keys) to drop already-seen
documents (`lineage.py` / `streaming/registry_stream.py`). A plain
anti-join shuffles BOTH sides on the key — and at this shape the new
slice is almost entirely novel, so nearly every shuffled row joins to
nothing. The classic fix (every warehouse engine's "runtime filter" /
semi-join reduction; Spark's own `spark.sql.optimizer.runtime.bloomFilter.*`
applies it only to selective-filter plans, and its `bloom_filter_agg`
aggregate is internal, not a public routine) is a Bloom filter of the
registry keys broadcast to the big side: rows whose keys are DEFINITELY
absent skip the join entirely, and only might-contain survivors — true
duplicates plus an fpp-sized sliver of false positives — reach the exact
anti-join. Bloom filters have no false negatives, so the composition is
EXACT: prefilter + anti-join on survivors ≡ plain anti-join
(pytest-pinned parity in tests/test_bloom.py).

Mechanics (deterministic end to end):
- one 64-bit key hash, computed JVM-SIDE (`F.xxhash64`, Spark's fixed
  seed 42) so build and probe can never disagree;
- k bit positions by Kirsch–Mitzenmacher double hashing
  (h1 + i*h2 mod m, h2 forced odd), vectorized in numpy uint64 —
  Python never touches key strings, only the hash column;
- the bitmap is built distributed: batches emit their DISTINCT bit
  positions as plain longs (deduped again map-side by the `distinct`),
  the grouped-map pass materializes each 4 KiB chunk exactly once, and
  the <= m/8-byte bitmap assembles on the driver and ships to probes as
  a task broadcast. The exchange therefore carries at most
  min(n·k, m) 8-byte positions — never keys, and never per-batch chunk
  blobs (a batch-partial-bitmap scheme inflates the exchange ~4096/12×
  whenever the bitmap outweighs one batch's position set, which is the
  normal registry shape).
- NULL keys never enter the filter and always survive the prefilter
  (a null key cannot equal any registry key, so the exact join decides —
  for an anti-join that means null-key rows are kept, matching plain
  anti-join semantics).

Sizing: m = -n·ln(p)/ln(2)^2 bits, k = ln(2)·m/n (standard optima). The
driver/broadcast cost IS the bitmap: 10^9 keys at 1% fpp ≈ 1.2 GiB —
right for a per-day slice registry; at the full 10^12-key registry,
partition the registry (e.g. by key prefix) and build one bloom per
partition, or raise fpp (the false-positive cost is just extra rows in
the exact join, never wrong output).
"""

from __future__ import annotations

import math
from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..session import arrow_table

__all__ = [
    "BloomFilter",
    "build_bloom",
    "empty_bloom",
    "bloom_might_contain",
    "bloom_filtered_antijoin",
    "save_bloom",
    "load_bloom",
]

_CHUNK_BYTES = 4096
# golden-gamma multiplier (splitmix64's constant — public domain PRNG
# lineage), used to derive the second hash from the first
_H2_MULT = np.uint64(0x9E3779B97F4A7C15)


@dataclass(frozen=True)
class BloomFilter:
    n_bits: int
    k: int
    bitmap: np.ndarray  # uint8, length n_bits // 8

    def might_contain(self, hashes: np.ndarray) -> np.ndarray:
        """Vectorized probe over int64/uint64 xxhash64 values."""
        h1 = hashes.astype(np.uint64, copy=False)
        h2 = (h1 * _H2_MULT) | np.uint64(1)
        ok = np.ones(len(h1), dtype=bool)
        m = np.uint64(self.n_bits)
        for i in range(self.k):
            pos = (h1 + np.uint64(i) * h2) % m
            ok &= (self.bitmap[(pos >> np.uint64(3)).astype(np.int64)]
                   >> (pos & np.uint64(7)).astype(np.uint8)) & 1 == 1
        return ok

    def add_hashes(self, hashes: np.ndarray) -> None:
        """OR a batch of xxhash64 values into the (mutable) bitmap — the
        incremental-maintenance path for a registry that grows per
        micro-batch. Idempotent (set semantics), so a replayed batch
        re-adding its keys is harmless."""
        pos = _positions(hashes.astype(np.uint64, copy=False), self.k, self.n_bits)
        np.bitwise_or.at(
            self.bitmap,
            (pos >> np.uint64(3)).astype(np.int64),
            (np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8)),
        )

    def saturation(self) -> float:
        """Fraction of set bits. The false-positive rate is
        saturation^k; past ~0.5 (the design point at capacity) the filter
        is over capacity — rebuild with a larger `expected` (offline,
        like registry compaction)."""
        return float(np.unpackbits(self.bitmap).mean())


def _params(expected: int, fpp: float) -> tuple[int, int]:
    if not 0.0 < fpp < 1.0:
        raise ValueError(f"fpp {fpp} outside (0, 1)")
    expected = max(1, int(expected))
    m = int(-expected * math.log(fpp) / (math.log(2) ** 2))
    # round bits up to whole chunks so chunk math never pads unevenly
    m = max(_CHUNK_BYTES * 8, ((m + _CHUNK_BYTES * 8 - 1) // (_CHUNK_BYTES * 8)) * _CHUNK_BYTES * 8)
    k = max(1, round(math.log(2) * m / expected))
    return m, min(k, 16)


def _positions(h1: np.ndarray, k: int, n_bits: int) -> np.ndarray:
    """(len(h1) * k) bit positions, Kirsch–Mitzenmacher."""
    h1 = h1.astype(np.uint64, copy=False)
    h2 = (h1 * _H2_MULT) | np.uint64(1)
    i = np.arange(k, dtype=np.uint64)[:, None]
    return ((h1[None, :] + i * h2[None, :]) % np.uint64(n_bits)).ravel()


_CHUNK_SCHEMA = T.StructType(
    [
        T.StructField("chunk_id", T.LongType()),
        T.StructField("bits", T.BinaryType()),
    ]
)

_POS_SCHEMA = T.StructType([T.StructField("pos", T.LongType())])


def _pos_fn(k: int, n_bits: int):
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            h = pdf["_h"].to_numpy(dtype=np.int64)
            if len(h) == 0:
                continue
            pos = np.unique(_positions(h, k, n_bits))
            yield pd.DataFrame({"pos": pos.astype(np.int64)})

    return fn


def _chunk_build(pdf: pd.DataFrame) -> pd.DataFrame:
    cid = int(pdf["chunk_id"].iloc[0])
    local = pdf["pos"].to_numpy(dtype=np.uint64) - np.uint64(cid * _CHUNK_BYTES * 8)
    bm = np.zeros(_CHUNK_BYTES, dtype=np.uint8)
    np.bitwise_or.at(
        bm,
        (local >> np.uint64(3)).astype(np.int64),
        (np.uint8(1) << (local & np.uint64(7)).astype(np.uint8)),
    )
    return pd.DataFrame({"chunk_id": [cid], "bits": [bm.tobytes()]})


def build_bloom(
    df: DataFrame,
    key_col: str,
    expected: int | None = None,
    fpp: float = 0.01,
) -> BloomFilter:
    """Build a Bloom filter of `df`'s non-null keys, distributed.

    ``expected`` sizes the filter (None = one count() of the frame — pass
    it from catalog stats to stay action-free). The build shuffles
    distinct bit positions (longs), never keys or chunk blobs (module
    doc); the only driver transfer is the finished bitmap."""
    keys = df.select(F.xxhash64(key_col).alias("_h")).filter(
        F.col(key_col).isNotNull()
    )
    if expected is None:
        expected = keys.count()
    n_bits, k = _params(expected, fpp)
    chunks = (
        keys.mapInPandas(_pos_fn(k, n_bits), schema=_POS_SCHEMA)
        .distinct()
        .withColumn(
            "chunk_id", (F.col("pos") / F.lit(_CHUNK_BYTES * 8)).cast("long")
        )
        .groupBy("chunk_id")
        .applyInPandas(_chunk_build, schema=_CHUNK_SCHEMA)
        .collect()
    )
    bitmap = np.zeros(n_bits // 8, dtype=np.uint8)
    for row in chunks:
        off = row.chunk_id * _CHUNK_BYTES
        bitmap[off : off + _CHUNK_BYTES] |= np.frombuffer(row.bits, dtype=np.uint8)
    return BloomFilter(n_bits=n_bits, k=k, bitmap=bitmap)


def empty_bloom(expected: int, fpp: float = 0.01) -> BloomFilter:
    """A zeroed filter sized for `expected` keys — the seed for
    incremental maintenance (`add_hashes`) when no keys exist yet."""
    n_bits, k = _params(expected, fpp)
    return BloomFilter(n_bits=n_bits, k=k, bitmap=np.zeros(n_bits // 8, dtype=np.uint8))


_PROBE_FIELD = "_bloom_might"


def bloom_might_contain(
    df: DataFrame, key_col: str, bloom: BloomFilter, out_col: str = _PROBE_FIELD
) -> DataFrame:
    """Append a boolean `out_col`: False only when the key is DEFINITELY
    not in the built set (null keys probe True — the exact join decides
    them; see module doc).

    The probe is a SCALAR pandas_udf over the JVM-computed xxhash64
    column alone: only 8 bytes/row cross the Arrow boundary (plus the
    returned bool) — text and payload columns never leave the JVM. The
    first formulation (mapInPandas over the whole row) round-tripped
    every column through Python and measurably slowed the 2M-turn smoke
    bench; the column-slim probe is why the prefilter is ~free locally."""
    sc = df.sparkSession.sparkContext
    b = sc.broadcast(bloom.bitmap.tobytes())
    n_bits, k = bloom.n_bits, bloom.k

    @F.pandas_udf(T.BooleanType())
    def probe(h: pd.Series) -> pd.Series:
        bf = BloomFilter(
            n_bits=n_bits, k=k, bitmap=np.frombuffer(b.value, dtype=np.uint8)
        )
        return pd.Series(bf.might_contain(h.to_numpy(dtype=np.int64)))

    return df.withColumn(
        out_col,
        F.when(F.col(key_col).isNull(), F.lit(True)).otherwise(
            probe(F.xxhash64(key_col))
        ),
    )


def bloom_filtered_antijoin(
    new: DataFrame,
    registry: DataFrame,
    key_col: str,
    bloom: BloomFilter | None = None,
    fpp: float = 0.01,
    expected: int | None = None,
    survivors_broadcast: bool = False,
) -> DataFrame:
    """EXACT left anti-join of `new` against `registry` on `key_col`,
    with the Bloom prefilter supplying the semi-join reduction: rows the
    filter rules out bypass the join shuffle entirely (union branch 1);
    only might-contain survivors shuffle into the exact anti-join
    (branch 2). No false negatives → identical row set to
    ``new.join(registry, key, "left_anti")``, at a shuffle bounded by
    true-duplicate volume + fpp instead of the whole slice.

    Pass a prebuilt ``bloom`` (e.g. loaded via `load_bloom` from the last
    registry publish) to keep the call action-free.

    ``survivors_broadcast=True`` additionally keeps the REGISTRY out of
    the exchange — the streaming-ingest shape, where the registry is
    10^12 keys and the post-bloom survivor set is micro-batch-sized:
    the survivors' distinct keys broadcast into a semi-join that reduces
    the registry to its matching keys (a column-pruned scan, zero
    registry shuffle), and that match set — bounded by the survivor
    count — broadcasts back into the exact anti-join. Both broadcasts
    are survivor-sized; leave it False when the new side is large
    relative to executor memory (the batch-ingest shape), where the
    shuffled anti-join is right."""
    if bloom is None:
        bloom = build_bloom(registry, key_col, expected=expected, fpp=fpp)
    flagged = bloom_might_contain(new, key_col, bloom)
    definitely_new = flagged.filter(~F.col(_PROBE_FIELD)).drop(_PROBE_FIELD)
    survivors = flagged.filter(F.col(_PROBE_FIELD)).drop(_PROBE_FIELD)
    reg_keys = registry.select(key_col)
    if survivors_broadcast:
        skeys = survivors.select(key_col).distinct()
        matches = reg_keys.join(F.broadcast(skeys), key_col, "left_semi").distinct()
        checked = survivors.join(F.broadcast(matches), key_col, "left_anti")
    else:
        checked = survivors.join(reg_keys.distinct(), key_col, "left_anti")
    return definitely_new.unionByName(checked)


def save_bloom(spark, bloom: BloomFilter, path: str) -> None:
    """Publish the filter as a parquet data artifact (chunked rows), the
    repo's model-artifact convention — rebuild-free probes on later runs."""
    rows = []
    for cid in range(0, len(bloom.bitmap), _CHUNK_BYTES):
        rows.append(
            (cid // _CHUNK_BYTES, bytes(bloom.bitmap[cid : cid + _CHUNK_BYTES]))
        )
    meta_and_chunks = spark.createDataFrame(
        arrow_table(
            [(int(bloom.n_bits), int(bloom.k), cid, blob) for cid, blob in rows],
            "n_bits long, k int, chunk_id long, bits binary",
        )
    )
    meta_and_chunks.coalesce(1).write.mode("overwrite").parquet(path)


def load_bloom(spark, path: str) -> BloomFilter:
    rows = spark.read.parquet(path).collect()
    n_bits, k = rows[0].n_bits, rows[0].k
    bitmap = np.zeros(n_bits // 8, dtype=np.uint8)
    for r in rows:
        off = r.chunk_id * _CHUNK_BYTES
        bitmap[off : off + len(r.bits)] = np.frombuffer(r.bits, dtype=np.uint8)
    return BloomFilter(n_bits=n_bits, k=k, bitmap=bitmap)

"""Near-duplicate detection family: MinHash+LSH, SimHash, exact n-gram
Jaccard — the training-data dedup toolkit (beyond the reference's exact-hash
dedup J1/U3; the reference's normalization idea storage.py:33-36 carries
over: everything hashes lower-cased, whitespace-normalized word tokens).

Design for 10^12-row scale:
- signatures/bands are computed in ONE Arrow-batched pandas UDF pass
  (numpy, crc32 hashing — deterministic across processes, no
  PYTHONHASHSEED),
- candidate generation is a self-equi-join on (band, band_hash) — a plain
  shuffle join Catalyst/AQE can plan and skew-split,
- verification joins texts back only for CANDIDATE pairs (never the n²
  cross product).

The brute-force golden builder in tools/build_golden_neardup.py shares the
shingle/signature helpers below but enumerates all pairs independently.
"""

from __future__ import annotations

import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .parallel import group_parallelism

# Mersenne prime 2^31-1: with 32-bit shingle hashes, a*x + b < 2^63 so the
# whole (n_hashes x n_shingles) universal-hash grid vectorizes in int64
_MERSENNE = (1 << 31) - 1
_N_HASHES = 64
_BANDS = 32  # 32 bands x 2 rows: P(detect | j) = 1-(1-j^2)^32  (~1 at j>=0.7)
_ROWS = _N_HASHES // _BANDS

_rng = np.random.RandomState(7)
_A = _rng.randint(1, _MERSENNE, size=_N_HASHES, dtype=np.int64)
_B = _rng.randint(0, _MERSENNE, size=_N_HASHES, dtype=np.int64)


def norm_words(text: str) -> list[str]:
    return text.lower().split()


def word_shingles(text: str, k: int = 3) -> np.ndarray:
    """crc32 of each k-word shingle of the normalized text (padded with the
    whole text when shorter than k words so short rows still fingerprint)."""
    w = norm_words(text)
    if len(w) < k:
        grams = [" ".join(w)] if w else []
    else:
        grams = [" ".join(w[i : i + k]) for i in range(len(w) - k + 1)]
    if not grams:
        return np.empty(0, dtype=np.int64)
    return np.unique(
        np.fromiter((zlib.crc32(g.encode()) for g in grams), dtype=np.int64)
    )


def minhash_signature(shingles: np.ndarray) -> np.ndarray:
    """64 minima of universal hashes h_i(x) = (a_i*x + b_i) mod p."""
    if shingles.size == 0:
        return np.full(_N_HASHES, _MERSENNE, dtype=np.int64)
    grid = (_A[:, None] * shingles[None, :] + _B[:, None]) % _MERSENNE
    return grid.min(axis=1)


def jaccard(a: np.ndarray, b: np.ndarray) -> float:
    if a.size == 0 and b.size == 0:
        return 1.0
    inter = np.intersect1d(a, b, assume_unique=True).size
    union = a.size + b.size - inter
    return inter / union if union else 1.0


def simhash64(text: str) -> int:
    """64-bit SimHash over word unigrams (count-weighted)."""
    w = norm_words(text)
    if not w:
        return 0
    vals, counts = np.unique(np.array(w, dtype=object), return_counts=True)
    hashes = np.fromiter(
        (zlib.crc32(v.encode()) | (zlib.crc32(v.encode()[::-1]) << 32) for v in vals),
        dtype=np.uint64,
    )
    bits = ((hashes[:, None] >> np.arange(64, dtype=np.uint64)) & 1).astype(np.int64)
    acc = ((bits * 2 - 1) * counts[:, None]).sum(axis=0)
    out = np.uint64(0)
    for b in range(64):
        if acc[b] > 0:
            out |= np.uint64(1) << np.uint64(b)
    return int(out.astype(np.int64))  # reinterpret as signed for Spark LongType


# --------------------------------------------------------------------------
# Spark operators (input contract: columns `id` string, `text` string)
# --------------------------------------------------------------------------

_BAND_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("band", T.IntegerType()),
        T.StructField("band_hash", T.LongType()),
    ]
)


def _minhash_bands_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        ids, bands, hashes = [], [], []
        for i, t in zip(pdf["id"], pdf["text"]):
            if t is None:
                continue
            sig = minhash_signature(word_shingles(t))
            for b in range(_BANDS):
                chunk = sig[b * _ROWS : (b + 1) * _ROWS]
                h = zlib.crc32(chunk.tobytes())
                ids.append(i)
                bands.append(b)
                hashes.append(h)
        yield pd.DataFrame({"id": ids, "band": bands, "band_hash": hashes})


_VERIFY_SCHEMA = T.StructType(
    [
        T.StructField("id_a", T.StringType()),
        T.StructField("id_b", T.StringType()),
        T.StructField("jaccard", T.DoubleType()),
    ]
)


def _verify_fn(threshold: float):
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"id_a": [], "id_b": [], "jaccard": []}
            for ia, ib, ta, tb in zip(
                pdf["id_a"], pdf["id_b"], pdf["text_a"], pdf["text_b"]
            ):
                j = jaccard(word_shingles(ta), word_shingles(tb))
                if j >= threshold:
                    rows["id_a"].append(ia)
                    rows["id_b"].append(ib)
                    rows["jaccard"].append(round(j, 4))
            yield pd.DataFrame(rows)

    return fn


def minhash_neardup_pairs(df: DataFrame, threshold: float = 0.9) -> DataFrame:
    """LSH candidate pairs verified by exact shingle Jaccard >= threshold.

    Returns (id_a, id_b, jaccard) with id_a < id_b, deduplicated across
    bands. Scales as O(rows x bands) + O(candidate pairs), never O(n^2).
    """
    src = df.select(F.col("id").cast("string"), "text")
    bands = src.mapInPandas(_minhash_bands_fn, schema=_BAND_SCHEMA)
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(b, ["band", "band_hash"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    withtext = (
        cand.join(src.select(F.col("id").alias("id_a"), F.col("text").alias("text_a")), "id_a")
        .join(src.select(F.col("id").alias("id_b"), F.col("text").alias("text_b")), "id_b")
    )
    return withtext.mapInPandas(_verify_fn(threshold), schema=_VERIFY_SCHEMA)


_SIMHASH_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("sig", T.LongType()),
    ]
)


def _simhash_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        ids, sigs = [], []
        for i, t in zip(pdf["id"], pdf["text"]):
            if t is None:
                continue
            ids.append(i)
            sigs.append(simhash64(t))
        yield pd.DataFrame({"id": ids, "sig": pd.array(sigs, dtype="int64")})


def simhash_signatures(df: DataFrame) -> DataFrame:
    return df.select(F.col("id").cast("string"), "text").mapInPandas(
        _simhash_fn, schema=_SIMHASH_SCHEMA
    )


def simhash_neardup_pairs(df: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Pairs within Hamming distance <= max_hamming of 64-bit SimHash.

    Banding on 4x16-bit chunks guarantees detection for distance <= 3
    (pigeonhole: at least one chunk is untouched); verification is a native
    bit_count(xor) — no Python in the join path.
    """
    sigs = simhash_signatures(df)
    chunks = [
        sigs.select(
            "id",
            "sig",
            F.lit(c).alias("chunk"),
            F.shiftrightunsigned("sig", 16 * c).bitwiseAND(F.lit(0xFFFF)).alias("ckey"),
        )
        for c in range(4)
    ]
    allc = chunks[0]
    for c in chunks[1:]:
        allc = allc.unionByName(c)
    a = allc.alias("a")
    b = allc.alias("b")
    cand = (
        a.join(b, ["chunk", "ckey"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .distinct()
    )
    return cand.select(
        "id_a",
        "id_b",
        F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).alias("hamming"),
    ).filter(F.col("hamming") <= max_hamming)


def exact_jaccard_pairs(
    df: DataFrame, threshold: float, impl: str = "auto"
) -> DataFrame:
    """Exact word-set Jaccard pairs at >= ``threshold``.

    ``impl="auto"`` (default): probe the token vocabulary with one bounded
    builder-time job (limit-65 distinct collect — driver traffic <= 65
    rows).  A vocabulary of <= 64 tokens means every word set is a 64-bit
    BITMASK, so Jaccard is popcount arithmetic over DISTINCT masks:
    group the corpus by mask (set identity), compare group pairs with
    native bit_count(a&b)/bit_count(a|b), and expand qualifying group
    pairs back to member doc pairs.  Work drops from O(n^2) array
    intersections to O(G^2) integer ops + O(output) expansion, where G =
    number of distinct word sets (G << n on duplicate-saturated corpora —
    the regime this operator targets).  Larger vocabularies fall back to
    ``prefix``.

    ``impl="prefix"``: prefix-filtered AllPairs candidate generation
    (Bayardo et al. 2007 / PPJoin's prefix principle) — EXACT, not
    approximate: order the token universe globally (document frequency
    ascending, token ascending), keep only each document's first
    ``sz - floor(t*sz) + 1`` tokens as its prefix; any pair with
    J >= t must share a prefix token, so an equi-join on prefix tokens
    plus exact verification of the candidates reproduces the all-pairs
    result while scanning O(sum df_prefix^2) instead of O(n^2).  The
    candidate threshold is slacked by 1e-4 below ``threshold`` because the
    emitted jaccard is rounded HALF_UP to 4 decimals before the >= filter
    (a true J of 0.79995 rounds to 0.8000 and must still be found).

    Both produce the same output as an O(n^2) cross join (the verification
    twin in tests/test_operators.py, pytest-pinned pairwise).
    Any other ``impl``, or a ``threshold`` outside [0, 1], raises ValueError.
    """
    if not 0.0 <= threshold <= 1.0:
        raise ValueError(f"threshold {threshold!r} not in [0, 1]")
    words = F.array_distinct(F.split(F.lower(F.trim("text")), " "))
    if impl == "auto":
        probe = (
            df.select(F.explode(words).alias("tok")).distinct().limit(65).collect()
        )
        if len(probe) <= 64:
            return _exact_jaccard_bitmask(
                df, threshold, sorted(r.tok for r in probe)
            )
        impl = "prefix"
    if impl != "prefix":
        raise ValueError(f"impl {impl!r} not in ('auto', 'prefix')")

    from pyspark.sql import Window

    # candidate-generation threshold: strictly below every true J that can
    # round up into the output (round-to-4 boundary is t - 5e-5; 1e-4 is
    # safely under it). floor() instead of the theorem's ceil() widens the
    # prefix by at most one token — conservative in the safe direction
    # under floating-point evaluation of t*sz.
    t_pref = max(0.0, threshold - 1e-4)
    t = df.select(F.col("id").cast("string"), words.alias("w")).withColumn(
        "sz", F.size("w")
    )
    tok = t.select("id", "sz", F.explode("w").alias("tok"))
    # document frequency per token: w is per-doc distinct, so count() == df
    dfc = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    w_id = Window.partitionBy("id").orderBy(F.asc("df"), F.asc("tok"))
    pref = (
        tok.join(dfc, "tok")
        .withColumn("rn", F.row_number().over(w_id))
        .filter(
            F.col("rn")
            <= F.col("sz") - F.floor(F.lit(t_pref) * F.col("sz")) + 1
        )
        .select("id", "sz", "tok")
    )
    a = pref.select(
        F.col("id").alias("id_a"), F.col("sz").alias("sz_a"), "tok"
    )
    b = pref.select(
        F.col("id").alias("id_b"), F.col("sz").alias("sz_b"), "tok"
    )
    cand = (
        a.join(b, "tok")
        .filter(F.col("id_a") < F.col("id_b"))
        # size filter (also exact-preserving under the slacked threshold):
        # J >= t implies min(sz) >= t * max(sz)
        .filter(
            F.least("sz_a", "sz_b").cast("double")
            >= F.lit(t_pref) * F.greatest("sz_a", "sz_b")
        )
        .select("id_a", "id_b")
        .distinct()
    )
    v = cand.join(
        t.select(F.col("id").alias("id_a"), F.col("w").alias("w_a")), "id_a"
    ).join(
        t.select(F.col("id").alias("id_b"), F.col("w").alias("w_b")), "id_b"
    )
    inter = F.size(F.array_intersect("w_a", "w_b"))
    union = F.size("w_a") + F.size("w_b") - inter
    return v.select(
        "id_a",
        "id_b",
        F.round(inter.cast("double") / union, 4).alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)


def _exact_jaccard_bitmask(
    df: DataFrame, threshold: float, vocab: list[str]
) -> DataFrame:
    """Exact Jaccard pairs when the token vocabulary fits 64 bits.

    Word sets are subsets of ``vocab``, so each set IS a long bitmask and
    set intersection/union are AND/OR + popcount — integer-exact, same
    numerator/denominator as size(array_intersect)/sizes, so the rounded
    jaccard is bit-identical to the cross-join path.  The plan:

    1. mask per doc (token -> 1<<idx map literal, row-local aggregate);
    2. group by mask: G distinct sets, G <= min(n, 2^|vocab|);
    3. banded G x G group-pair compare: J >= t forces the two popcounts
       into a band (min >= t*max), so the left side explodes each mask's
       admissible partner-popcount range ([ceil(t*p), floor(p/t)], <= 64
       values, epsilon-widened so float rounding can only widen the band)
       and equi-joins it against a broadcast of the grouped side keyed by
       popcount: only band-compatible mask pairs are ever materialized,
       instead of evaluating the prune on all G^2 combinations in a
       nested loop.  The exact min >= t*max filter stays downstream, so
       banding is a strict superset prune.  A keyless repartition fixes
       the probe-side parallelism (the post-aggregation left would
       otherwise be 1 AQE-coalesced partition);
    4. expand qualifying group pairs to member pairs by broadcasting the
       grouped member-id ARRAYS (mask -> sort_array(collect_list(id)),
       same total bytes as the flat (mask, id) table) and exploding:
       codegen's Generate loop emits the cnt_a x cnt_b member pairs
       ~25%% faster per output row than iterating duplicate-key hash-
       relation matches, on a query whose cost is O(output rows).
       Orientation by string id matches the cross join's ``a.id < b.id``.

    ``vocab`` must cover every token in ``df`` (the auto-probe guarantees
    this); a missing token would null the row's mask and silently drop it.
    """
    t_pref = max(0.0, threshold - 1e-4)  # round-to-4 boundary slack
    bit = {tok: 1 << i for i, tok in enumerate(vocab)}
    mapping = F.create_map(
        *[F.lit(x) for kv in bit.items() for x in kv]
    )
    words = F.array_distinct(F.split(F.lower(F.trim("text")), " "))
    mask = F.aggregate(
        words,
        F.lit(0).cast("long"),
        lambda acc, x: acc.bitwiseOR(mapping[x]),
    )
    dm = df.select(
        F.col("id").cast("string").alias("id"), mask.alias("mask")
    ).filter(F.col("mask").isNotNull())
    gml = dm.groupBy("mask").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sort_array(F.collect_list("id")).alias("ids"),
    )
    gm = gml.select("mask", "cnt")
    ga = gm.select(
        F.col("mask").alias("mask_a"),
        F.col("cnt").alias("cnt_a"),
        F.bit_count("mask").alias("pa"),
    )
    gb = gm.select(
        F.col("mask").alias("mask_b"),
        F.col("cnt").alias("cnt_b"),
        F.bit_count("mask").alias("pb"),
    )
    sz_a = F.bit_count(F.col("mask_a"))
    sz_b = F.bit_count(F.col("mask_b"))
    inter = F.bit_count(F.col("mask_a").bitwiseAND(F.col("mask_b")))
    union = F.bit_count(F.col("mask_a").bitwiseOR(F.col("mask_b")))
    if t_pref > 0.0:
        # popcount band: J >= t implies pb in [ceil(t*pa), floor(pa/t)]
        # (epsilon-widened: float rounding may only WIDEN the band; the
        # exact least/greatest filter below still decides membership)
        lo = F.ceil(F.lit(t_pref) * F.col("pa") - F.lit(1e-9)).cast("int")
        hi = F.least(
            F.floor(F.col("pa") / F.lit(t_pref) + F.lit(1e-9)).cast("int"),
            F.lit(64),
        )
        ga_exp = ga.withColumn("pb_band", F.explode(F.sequence(lo, hi)))
        raw = ga_exp.repartition(group_parallelism(ga_exp)).join(
            F.broadcast(gb), F.col("pb_band") == F.col("pb")
        )
    else:
        raw = ga.repartition(group_parallelism(ga)).crossJoin(F.broadcast(gb))
    pairs = (
        # keyless repartition above: join parallelism == probe-side
        # partitions, and the post-aggregation left would otherwise be
        # 1 AQE-coalesced partition running the whole loop in one task
        raw.filter(
            (F.col("mask_a") < F.col("mask_b"))
            | ((F.col("mask_a") == F.col("mask_b")) & (F.col("cnt_b") >= 2))
        )
        .filter(
            F.least(sz_a, sz_b).cast("double")
            >= F.lit(t_pref) * F.greatest(sz_a, sz_b)
        )
        .select(
            "mask_a",
            "mask_b",
            F.round(inter.cast("double") / union, 4).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    ge_a = gml.select(F.col("mask").alias("mask_a"), F.col("ids").alias("ids_a"))
    ge_b = gml.select(F.col("mask").alias("mask_b"), F.col("ids").alias("ids_b"))
    return (
        pairs.join(F.broadcast(ge_a), "mask_a")
        .select(
            "mask_a", "mask_b", "jaccard", F.explode("ids_a").alias("_xa")
        )
        .join(F.broadcast(ge_b), "mask_b")
        .select(
            "mask_a", "mask_b", "jaccard", "_xa",
            F.explode("ids_b").alias("_xb"),
        )
        .filter(
            (F.col("mask_a") != F.col("mask_b")) | (F.col("_xa") < F.col("_xb"))
        )
        .select(
            F.least("_xa", "_xb").alias("id_a"),
            F.greatest("_xa", "_xb").alias("id_b"),
            "jaccard",
        )
    )


def cross_neardup_pairs(
    new: DataFrame, existing: DataFrame, threshold: float = 0.9
) -> DataFrame:
    """Incremental-ingest dedup: near-dup pairs BETWEEN a new batch and
    an existing corpus only (a new crawl against what's already kept —
    the FineWeb cross-dump case), never within either side. Returns
    (id_new, id_old, jaccard) verified at the exact-shingle threshold.

    Same LSH machinery as minhash_neardup_pairs, but the band equi-join
    is new-side against old-side directly — candidate volume is
    O(new x bands) + cross collisions, so a small daily batch against a
    10^9-doc corpus never pays the corpus' self-join. At steady state
    the old side's band table is worth persisting as a table (bands are
    a pure function of text) and this becomes one broadcast- or
    shuffle-join of the small new band set against it; that contract is
    why bands carry no run-specific state.
    """
    n = new.select(F.col("id").cast("string"), "text")
    e = existing.select(F.col("id").cast("string"), "text")
    nb = n.mapInPandas(_minhash_bands_fn, schema=_BAND_SCHEMA).alias("n")
    eb = e.mapInPandas(_minhash_bands_fn, schema=_BAND_SCHEMA).alias("e")
    cand = (
        nb.join(eb, ["band", "band_hash"])
        .select(F.col("n.id").alias("id_a"), F.col("e.id").alias("id_b"))
        .distinct()
    )
    withtext = cand.join(
        n.select(F.col("id").alias("id_a"), F.col("text").alias("text_a")),
        "id_a",
    ).join(
        e.select(F.col("id").alias("id_b"), F.col("text").alias("text_b")),
        "id_b",
    )
    return withtext.mapInPandas(
        _verify_fn(threshold), schema=_VERIFY_SCHEMA
    ).withColumnsRenamed({"id_a": "id_new", "id_b": "id_old"})

"""Similarity search over embedding columns.

- ``brute_force_topk``: exact cosine top-k (the baseline; used by the
  driver query `embedding_topk_cosine` with a DuckDB oracle).
- ``lsh_ann_topk``: random-hyperplane LSH — signature buckets + in-bucket
  exact re-rank. The scale path: candidate generation is an equi-join on
  the bucket id, never a cross product. Deterministic (fixed-seed planes),
  so the numpy twin in tools/build_golden_ann.py reproduces it bit-for-bit.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

N_PLANES = 6  # default: 64 buckets — right for the small test corpora
_PLANE_SEED = 11


def planes_for(dim: int, n_planes: int = N_PLANES) -> np.ndarray:
    """Seeded hyperplane matrix. The first N rows are identical for any two
    configurations sharing a seed (rows are drawn plane-by-plane), so
    goldens built at one n_planes stay valid when another is added."""
    rs = np.random.RandomState(_PLANE_SEED)
    return np.stack([rs.randn(dim) for _ in range(n_planes)])


def suggest_n_planes(n_rows: int, target_bucket_size: int = 1024) -> int:
    """Bucket count must GROW with the corpus or in-bucket work is
    O(n^2 / 2^planes) — quadratic again at scale. log2(n / target) keeps
    expected bucket occupancy ~target_bucket_size regardless of n (10^9
    rows, target 1024 -> 20 planes / 1M buckets)."""
    import math

    if n_rows <= target_bucket_size:
        return 1
    return max(1, math.ceil(math.log2(n_rows / target_bucket_size)))


@F.pandas_udf(T.DoubleType())
def cosine_sim(a: pd.Series, b: pd.Series) -> pd.Series:
    """Vectorized cosine similarity between two array columns.

    One float64 matmul per Arrow batch. Replaces the round-1 lambda
    higher-order-function kernel (F.aggregate / F.zip_with): those are
    CodegenFallback in Spark — interpreted per element, measured ~1000x
    slower than codegen'd built-ins, a scale-killer on a real embeddings
    table. numpy also matches the golden twin (tools/build_golden_misc.py
    uses np matmul) to the last ULP.
    """
    A = np.stack(a.to_numpy()).astype(np.float64)
    B = np.stack(b.to_numpy()).astype(np.float64)
    dots = np.einsum("ij,ij->i", A, B)
    na = np.linalg.norm(A, axis=1)
    nb = np.linalg.norm(B, axis=1)
    return pd.Series(dots / (na * nb))


# The LSH and IVF kernels return arrays that callers ``explode``: a
# generator's output column takes its join's inferred ``isnotnull`` filter
# above the Generate, where a scalar UDF column would have the filter
# pushed below its projection and the kernel run twice.


def _lsh_probes(dim: int, n_planes: int, n_probes: int = 1):
    """Scalar Arrow UDF ``embedding -> array<int>``: the vector's
    random-hyperplane bucket, then (multi-probe) the buckets reached by
    flipping its ``n_probes - 1`` smallest-|margin| plane bits. One
    matmul per batch."""
    planes = planes_for(dim, n_planes)
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    @F.pandas_udf("array<int>")
    def lsh_probes(emb: pd.Series) -> pd.Series:
        mat = np.stack(emb.to_numpy()).astype(np.float64)
        margins = mat @ planes.T  # (n, planes), signed distance·|w|
        probes = ((margins > 0) @ weights)[:, None]
        if n_probes > 1:
            flips = np.argsort(np.abs(margins), axis=1, kind="stable")
            probes = np.hstack([probes, probes ^ weights[flips[:, : n_probes - 1]]])
        return pd.Series(list(probes.astype(np.int32)))

    return lsh_probes


def _with_bucket(df: DataFrame, dim: int, n_planes: int) -> DataFrame:
    """(vec_id, embedding, bucket)."""
    bucket = F.explode(_lsh_probes(dim, n_planes)("embedding")).alias("bucket")
    return df.select("vec_id", "embedding", bucket)


def lsh_buckets(df: DataFrame, dim: int, n_planes: int = N_PLANES) -> DataFrame:
    """(vec_id, bucket) for an (vec_id, embedding) table. Size n_planes
    with suggest_n_planes(corpus_rows) so buckets scale with the corpus."""
    return _with_bucket(df, dim, n_planes).select("vec_id", "bucket")


N_IVF_CELLS = 16
_IVF_SEED = 7


def ivf_centroids(dim: int, n_cells: int = N_IVF_CELLS) -> np.ndarray:
    """Deterministic coarse quantizer: seeded gaussian directions,
    L2-normalized (for cosine search, cells = nearest direction). Like
    planes_for, drawn row-by-row so centroid i is identical across
    configurations. Cell count must scale with the corpus: each query
    scans ~nprobe/n_cells of all rows, so a fixed n_cells pins the scan
    fraction no matter how large n grows (classic sizing:
    n_cells ≈ sqrt(n)). For data-adapted cells use
    train_ivf_centroids."""
    rs = np.random.RandomState(_IVF_SEED)
    c = np.stack([rs.randn(dim) for _ in range(n_cells)])
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def train_ivf_centroids(
    df: DataFrame,
    dim: int,
    n_cells: int,
    sample_n: int = 4096,
    iters: int = 10,
    seed: int = _IVF_SEED,
) -> np.ndarray:
    """Spherical k-means on a deterministic hash-sample of the corpus —
    the data-adapted quantizer for skewed real embeddings (seeded-gaussian
    cells leave hot cells when the data is clustered). The sample is tiny
    (n_cells*constant), so training is one scan + a driver-side numpy
    loop; the result is broadcast back into ivf_assign/ivf_ann_topk via
    their ``centroids`` argument, and exported to parquet for the oracle
    by datasets.ensure_ivf_centroids."""
    sample = (
        df.select("vec_id", "embedding")
        .orderBy(F.xxhash64(F.col("vec_id") + F.lit(seed)))
        .limit(sample_n)
        .toPandas()
    )
    mat = np.stack(sample["embedding"].to_numpy()).astype(np.float64)
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    mat = mat / norms
    cents = ivf_centroids(dim, n_cells)  # seeded init
    for _ in range(iters):
        assign = np.argmax(mat @ cents.T, axis=1)
        for c in range(n_cells):
            sel = mat[assign == c]
            if len(sel):
                v = sel.sum(axis=0)
                n = np.linalg.norm(v)
                if n > 0:
                    cents[c] = v / n
    return cents


def _ivf_cells(cents: np.ndarray, k: int = 1):
    """Scalar Arrow UDF ``embedding -> array<int>``: the ``k`` centroids
    nearest by cosine, nearest first (ties to the lower cell)."""

    @F.pandas_udf("array<int>")
    def ivf_cells(emb: pd.Series) -> pd.Series:
        mat = np.stack(emb.to_numpy()).astype(np.float64)
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        sims = (mat / norms) @ cents.T  # (n, cells)
        if k == 1:
            cells = np.argmax(sims, axis=1)[:, None]
        else:
            cells = np.argsort(-sims, axis=1, kind="stable")[:, :k]
        return pd.Series(list(cells.astype(np.int32)))

    return ivf_cells


def _with_cell(df: DataFrame, cents: np.ndarray) -> DataFrame:
    """(vec_id, embedding, cell)."""
    cell = F.explode(_ivf_cells(cents)("embedding")).alias("cell")
    return df.select("vec_id", "embedding", cell)


def ivf_assign(
    df: DataFrame,
    dim: int,
    n_cells: int = N_IVF_CELLS,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """(vec_id, cell): nearest-centroid assignment, one matmul per batch.
    ``centroids`` (e.g. from train_ivf_centroids) overrides the seeded
    quantizer; the small (n_cells, dim) array ships in the task closure."""
    cents = centroids if centroids is not None else ivf_centroids(dim, n_cells)
    return _with_cell(df, cents).select("vec_id", "cell")


def ivf_ann_topk(
    df: DataFrame,
    query_ids: list[int],
    k: int,
    dim: int,
    nprobe: int = 4,
    n_cells: int = N_IVF_CELLS,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """IVF top-k cosine neighbors: inverted-file coarse quantizer + exact
    re-rank inside the nprobe nearest cells of each query.

    Scale path: the vector table is partitioned by cell (an equi-join on
    the cell id — at warehouse scale, a table bucketed by cell turns this
    into a storage-partitioned join); queries fan out to nprobe cells, so
    the scanned fraction is ~nprobe/n_cells of the corpus, never
    all-pairs. Size n_cells with the corpus (≈ sqrt(n)) — a fixed cell
    count pins the scanned fraction forever — and pass
    train_ivf_centroids output as ``centroids`` for skewed data. Re-rank
    is one numpy matmul per Arrow batch (cosine_sim).
    """
    cents = centroids if centroids is not None else ivf_centroids(dim, n_cells)
    # query -> its nprobe nearest cells (small: len(query_ids) x nprobe)
    q = df.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.explode(_ivf_cells(cents, nprobe)("embedding")).alias("cell"),
    )
    cand = _with_cell(df, cents).join(F.broadcast(q), "cell").filter(
        F.col("vec_id") != F.col("query_id")
    )
    # no dedup needed: each vector lives in exactly one cell, so a
    # (query, vec) candidate pair appears at most once
    scored = cand.select(
        "query_id", "vec_id", F.round(cosine_sim("embedding", "q_emb"), 4).alias("cos_sim")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "rank", "cos_sim")
    )


def embedding_neardup_pairs(
    df: DataFrame, dim: int, threshold: float = 0.9, n_planes: int = N_PLANES
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a < id_b, cos_sim) for
    pairs landing in the same random-hyperplane LSH bucket with cosine
    similarity >= threshold.

    Scale path: candidate generation is a self equi-join on the bucket id —
    never an all-pairs cross product — and verification is one numpy matmul
    per Arrow batch (cosine_sim). Bucket-restricted semantics (recall < 1
    across bucket boundaries) are part of the operator contract, exactly
    like the reference's banded MinHash; the DuckDB oracle recomputes the
    buckets independently from the exported plane matrix (data, not code).

    Reference analog: the text-hash dedup registry (storage.py:81-150)
    generalized to embedding space.

    ``n_planes`` must scale with the corpus (suggest_n_planes): in-bucket
    candidate pairs are ~n^2 / 2^n_planes, so a FIXED bucket count is
    quadratic again at 100 TB. Multi-probe (querying neighboring bucket
    codes) is the standard recall lever when raising n_planes; recall
    across bucket boundaries stays part of the operator contract either
    way.
    """
    vecs = _with_bucket(df, dim, n_planes)
    left = vecs.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("emb_a"),
        "bucket",
    )
    right = vecs.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("emb_b"),
        "bucket",
    )
    cand = left.join(right, "bucket").filter(F.col("id_a") < F.col("id_b"))
    scored = cand.select(
        "id_a", "id_b", F.round(cosine_sim("emb_a", "emb_b"), 4).alias("cos_sim")
    )
    return scored.filter(F.col("cos_sim") >= threshold)


def lsh_ann_topk(
    df: DataFrame,
    query_ids: list[int],
    k: int,
    dim: int,
    n_planes: int = N_PLANES,
    n_probes: int = 1,
) -> DataFrame:
    """Top-k cosine neighbors per query vector, searched within the query's
    LSH bucket only (returns (query_id, vec_id, rank, cos_sim)). Candidate
    pruning is 2^n_planes-fold — size n_planes to the corpus
    (suggest_n_planes).

    ``n_probes``: multi-probe LSH (Lv et al., VLDB'07) — besides its own
    bucket, each query probes the n_probes-1 buckets reached by flipping
    the single plane bits with the smallest |margin| (the planes the query
    sits closest to, i.e. the likeliest hash boundaries for a true
    neighbor to fall across). This is THE recall lever when n_planes grows
    with the corpus: probe cost is linear in n_probes while halving
    recall loss per probe, instead of halving the bucket count."""
    # probe table: (query_id, q_emb, bucket) x n_probes — the query's own
    # bucket, then single-bit flips in ascending |margin|. Each vector
    # lives in ONE bucket and probe buckets are distinct, so a (query, vec)
    # candidate appears at most once — no dedup needed
    q = df.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.explode(_lsh_probes(dim, n_planes, n_probes)("embedding")).alias("bucket"),
    )
    cand = _with_bucket(df, dim, n_planes).join(F.broadcast(q), "bucket").filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = cand.select(
        "query_id",
        "vec_id",
        F.round(cosine_sim("embedding", "q_emb"), 4).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "rank", "cos_sim")
    )


# -- Product quantization: the compressed-scan ANN path ---------------------

N_PQ_SUB = 8  # 64-dim -> 8 subspaces x 8 dims
N_PQ_CODES = 16  # 4 bits/subspace -> 4 bytes per vector at rest
_PQ_SEED = 13


def pq_codebooks(dim: int) -> np.ndarray:
    """(M, K, dim/M) deterministic codebooks. Like ivf_centroids: a real
    deployment k-means a sample per subspace; fixed seeded codebooks keep
    the operator reproducible with zero training passes."""
    rs = np.random.RandomState(_PQ_SEED)
    return rs.randn(N_PQ_SUB, N_PQ_CODES, dim // N_PQ_SUB)


def pq_encode(df: DataFrame, dim: int) -> DataFrame:
    """(vec_id, codes): nearest codebook entry per subspace (L2). The
    compressed corpus representation — M small ints instead of dim
    floats, the 16x memory-traffic cut that makes the ADC scan pay."""
    cb = pq_codebooks(dim)  # (M, K, d)
    dsub = dim // N_PQ_SUB

    @F.pandas_udf("array<int>")
    def pq_codes(emb: pd.Series) -> pd.Series:
        mat = np.stack(emb.to_numpy()).astype(np.float64)
        codes = np.empty((len(mat), N_PQ_SUB), dtype=np.int32)
        for m in range(N_PQ_SUB):
            sub = mat[:, m * dsub : (m + 1) * dsub]  # (n, d)
            # ||x - c||^2 = ||x||^2 - 2 x.c + ||c||^2; argmin drops ||x||^2
            d2 = -2.0 * (sub @ cb[m].T) + (cb[m] ** 2).sum(axis=1)
            codes[:, m] = np.argmin(d2, axis=1)
        return pd.Series(list(codes))

    return df.select("vec_id", pq_codes("embedding").alias("codes"))


_ADC_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.LongType()),
        T.StructField("vec_id", T.LongType()),
        T.StructField("s", T.DoubleType()),
    ]
)


def _adc_scan_fn(dim: int, q_ids: np.ndarray, q_mat: np.ndarray, shortlist: int):
    """ADC scan with per-batch shortlist truncation: each Arrow batch of
    codes is scored against every query LUT and emits only its local
    top-``shortlist`` rows per query (same (s desc, vec_id asc) order as
    the global cut, so the merge of local top-s provably contains the
    global top-s). The exchange above this carries
    O(batches × shortlist × queries) rows — the former global row_number
    window shuffled ALL n×q approximate scores, defeating the point of a
    compressed scan."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        nq = len(q_ids)
        if nq == 0:
            # no requested query id exists in df: emit nothing (the old
            # per-batch np.concatenate([]) raised ValueError here)
            return
        cb = pq_codebooks(dim)
        dsub = dim // N_PQ_SUB
        luts = np.empty((nq, N_PQ_SUB, N_PQ_CODES))
        for qi in range(nq):
            for m in range(N_PQ_SUB):
                luts[qi, m] = cb[m] @ q_mat[qi, m * dsub : (m + 1) * dsub]
        for pdf in batches:
            C = np.stack(pdf["codes"].to_numpy()).astype(np.int64)  # (n, M)
            ids = pdf["vec_id"].to_numpy().astype(np.int64)
            s = np.zeros((nq, len(C)))
            for m in range(N_PQ_SUB):
                s += luts[:, m, :][:, C[:, m]]
            s = np.round(s, 4)  # deterministic cut: fp-sum association varies
            out_q, out_v, out_s = [], [], []
            for qi in range(nq):
                mask = ids != q_ids[qi]
                vid, sv = ids[mask], s[qi][mask]
                order = np.lexsort((vid, -sv))[:shortlist]
                out_q.append(np.full(len(order), q_ids[qi], dtype=np.int64))
                out_v.append(vid[order])
                out_s.append(sv[order])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "vec_id": np.concatenate(out_v),
                    "s": np.concatenate(out_s),
                }
            )

    return fn


def pq_ann_topk(
    df: DataFrame, query_ids: list[int], k: int, dim: int, shortlist: int = 50
) -> DataFrame:
    """PQ-ADC top-k: encode the corpus to M-byte codes, scan codes with a
    per-query lookup table (asymmetric distance), shortlist by the
    approximate dot product, exact-cosine re-rank the shortlist.

    Scale shape: unlike LSH/IVF (which prune the corpus), PQ scans ALL
    rows per query — but over the 16x-smaller code column, with the raw
    embedding column never leaving the scan except for the shortlist
    join, and each scan task emitting only its LOCAL top-shortlist per
    query (see _adc_scan_fn) so the global-cut exchange carries
    O(tasks × shortlist × queries) rows, never n×q. Approx scores are
    rounded to 4 decimals before the cut (deterministic across engines;
    fp-sum association differs), vec_id tiebreak. The DuckDB oracle
    replays encode + ADC + re-rank in pure SQL from the exported codebook
    parquet (data, not code).

    Query embeddings are collected at plan-build time (one tiny job —
    |query_ids| rows) so the LUTs can live in the scan closure.
    """
    codes = pq_encode(df, dim)
    qpdf = (
        df.filter(F.col("vec_id").isin(query_ids))
        .select("vec_id", "embedding")
        .toPandas()
        .sort_values("vec_id")
    )
    q_ids = qpdf["vec_id"].to_numpy().astype(np.int64)
    q_mat = (
        np.stack(qpdf["embedding"].to_numpy()).astype(np.float64)
        if len(qpdf)
        else np.zeros((0, dim))
    )
    q_emb = df.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    approx = codes.mapInPandas(
        _adc_scan_fn(dim, q_ids, q_mat, shortlist), schema=_ADC_SCHEMA
    )
    ws = Window.partitionBy("query_id").orderBy(F.desc("s"), F.asc("vec_id"))
    short = (
        approx.withColumn("rn", F.row_number().over(ws))
        .filter(F.col("rn") <= shortlist)
        .select("query_id", "vec_id")
    )
    rer = (
        short.join(df.select("vec_id", "embedding"), "vec_id")
        .join(F.broadcast(q_emb), "query_id")
        .select(
            "query_id",
            "vec_id",
            F.round(cosine_sim("embedding", "q_emb"), 4).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        rer.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "rank", "cos_sim")
    )

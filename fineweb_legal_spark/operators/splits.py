"""Dataset split creation (reference parity: scripts/create_dataset_splits.py
and consolidate_and_clean.py:84-143).

The reference splits with a seeded RNG; a distributed engine can't reproduce
NumPy's permutation order, so the split is redefined as a DETERMINISTIC hash
split (stable under any partitioning/parallelism — the property the
reference actually wanted from its fixed seed): bucket = first two md5 hex
digits of the id (256 buckets) → train/val/test by cumulative fraction.
Overlap-freedom is structural (disjoint hash ranges) and still audited the
reference's way (intersect == 0, U4/J2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SPLITS = (("train", 0.70), ("val", 0.15), ("test", 0.15))


def split_col(key, splits=SPLITS):
    bucket = F.conv(F.substring(F.md5(key.cast("string")), 1, 2), 16, 10).cast("int")
    acc = 0.0
    expr = None
    for name, frac in splits:
        acc += frac
        cond = bucket < int(round(acc * 256))
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    return expr.otherwise(F.lit(splits[-1][0]))


def assign_splits(df: DataFrame, key_col: str) -> DataFrame:
    return df.withColumn("split", split_col(F.col(key_col)))


def split_overlap_count(df: DataFrame, key_col: str, a: str, b: str) -> int:
    """Reference J2 audit: hash-key overlap between two splits must be 0."""
    sa = df.filter(F.col("split") == a).select(key_col)
    sb = df.filter(F.col("split") == b).select(key_col)
    return sa.intersect(sb).count()


def leakage_safe_splits(
    df: DataFrame,
    pairs: DataFrame,
    key_col: str = "doc_id",
    splits=SPLITS,
) -> DataFrame:
    """Split assignment that cannot leak near-duplicates across splits:
    every document is assigned by its duplicate-CLUSTER representative's
    hash, not its own, so all members of a near-dup cluster land in the
    same split (train/test contamination via paraphrase-level duplicates
    is the classic eval-inflation failure; per-doc hash splits redistribute
    cluster members independently).

    ``pairs`` is any (id_a, id_b) near-dup pair frame (MinHash/SimHash/
    embedding-cosine); cluster labels come from connected_components
    (min reachable id, deterministic), singletons represent themselves.
    The split itself is the engine's standard deterministic hash split
    (split_col) applied to the representative — stable under any
    partitioning, retry, or engine.

    Scale shape: the component resolution is the dedup-graph CC already
    sized for 100 TB (hash-min + star fallback); the label join is one
    equi-join on the id, broadcast-able when the pair graph is sparse.
    Output: df + (cluster_id, split); any pre-existing cluster_id/split
    columns (e.g. a frame that already went through semantic_dedup) are
    replaced. Rows with a NULL key are EXCLUDED: they have no identity
    to cluster or split on — md5(NULL) would otherwise silently funnel
    every unkeyed row into the last split, the exact contamination this
    function exists to prevent. Give rejects synthetic keys upstream
    (write_scored_bucketed's trick) if they must be split.
    """
    from .cluster import connected_components

    df = df.drop("cluster_id", "split").filter(F.col(key_col).isNotNull())
    cc = connected_components(pairs.select("id_a", "id_b"))
    labeled = df.join(
        cc.withColumnRenamed("id", key_col), key_col, "left"
    ).withColumn("cluster_id", F.coalesce("cluster_id", F.col(key_col)))
    return labeled.withColumn("split", split_col(F.col("cluster_id"), splits))

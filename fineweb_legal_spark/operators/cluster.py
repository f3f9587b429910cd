"""Graph/sequence grouping operators for the training-data pipeline:

- connected_components: duplicate-cluster resolution over a near-dup pair
  graph (the step AFTER MinHash/SimHash pair generation at corpus scale —
  near-dup dedup keeps ONE canonical doc per connected component, not one
  per pair). Reference analog: the exact-hash registry collapses exact
  duplicates only (reference src/fineweb_legal/storage.py:81-129); near-dup
  clusters need transitive closure.
- sessionize: gap-based event sessionization (classic log-to-training-data
  shaping; no reference analog — new scale requirement).

Scale notes
-----------
connected_components is hash-min label propagation (Pregel-style): each
round is one shuffle join + one min-aggregate, rounds = graph diameter.
Near-dup graphs have tiny diameters (clusters are cliques-ish from LSH
banding), so 3-5 rounds converge in practice; `max_iter` bounds the worst
case and `localCheckpoint` truncates the growing lineage each round (else
the plan doubles per iteration and Janino chokes by round ~8). Hash-min
goes first because the dedup-graph diameter is small and each round is a
single cheap shuffle; an adversarial long-chain graph that exhausts
`max_iter` falls back to the large-star/small-star alternation (Kiveris et
al., MapReduce CC) — same join primitive, O(log^2 n) rounds.

sessionize is two window passes over (user_id) partitions — embarrassingly
parallel per user, no driver-side state; skewed power-users are bounded by
per-user event counts, not corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def connected_components(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """Resolve (id_a, id_b) near-dup pairs into clusters.

    Returns (id, cluster_id) for every id appearing in >=1 pair, where
    cluster_id is the minimum id reachable through the pair graph —
    deterministic, so the canonical "keep" doc per cluster is stable across
    runs and partitionings.

    Hash-min label propagation first (rounds = graph diameter; right for
    near-dup graphs, whose LSH clusters are cliques-ish, diameter 2-4). If
    it has not converged within ``max_iter`` rounds, large-star/small-star
    alternation (Kiveris et al., "Connected Components in MapReduce and
    Beyond") takes over: O(log^2 n) rounds regardless of diameter, the
    adversarial-chain escape hatch for 100-TB graphs.
    """
    try:
        return _cc_hashmin(pairs, max_iter)
    except RuntimeError:
        return _cc_star(pairs, max_iter)


def _symmetrize(pairs: DataFrame) -> DataFrame:
    return (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        # materialize once: every propagation round joins against this, and
        # without it the symmetrize-union + distinct shuffle would
        # re-execute per round
        .localCheckpoint(eager=True)
    )


def _cc_hashmin(pairs: DataFrame, max_iter: int) -> DataFrame:
    sym = _symmetrize(pairs)
    labels = (
        pairs.select(F.col("id_a").alias("id"))
        .unionByName(pairs.select(F.col("id_b").alias("id")))
        .distinct()
        .withColumn("lbl", F.col("id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        # min label over {self} ∪ neighbors — one shuffle join + one min-agg
        nbr = sym.join(
            labels.withColumnRenamed("id", "dst"), "dst"
        ).select(F.col("src").alias("id"), "lbl")
        new = (
            labels.unionByName(nbr)
            .groupBy("id")
            .agg(F.min("lbl").alias("lbl"))
            .localCheckpoint(eager=True)  # truncate lineage per round
        )
        changed = (
            new.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.lbl") != F.col("o.lbl"))
            .limit(1)
            .count()
        )
        labels = new
        if changed == 0:
            break
    else:
        # a silent non-converged return would split real clusters and
        # break the deterministic-canonical-keeper guarantee
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(graph diameter exceeds max_iter; raise it or switch to "
            "large-star/small-star)"
        )
    return labels.select("id", F.col("lbl").alias("cluster_id"))


def _star_round(edges: DataFrame, large: bool) -> DataFrame:
    """One large-star or small-star round over a symmetric edge list.

    Per node u with neighborhood N(u) and m = min(N(u) ∪ {u}):
    - large-star connects every neighbor v > u to m
    - small-star connects every neighbor v <= u (plus u itself) to m
    Both are a per-node min-aggregate joined back to the edges — one
    shuffle + one broadcast-or-shuffle join per round, no driver state.
    """
    mins = edges.groupBy("src").agg(F.min("dst").alias("_mn"))
    m = F.least(F.col("src"), F.col("_mn")).alias("_m")
    j = edges.join(mins, "src").select("src", "dst", m)
    keep = F.col("dst") > F.col("src") if large else F.col("dst") <= F.col("src")
    out = j.filter(keep).select(F.col("dst").alias("src"), F.col("_m").alias("dst"))
    if not large:
        # small-star also re-links u itself to m
        out = out.unionByName(
            j.select(F.col("src"), F.col("_m").alias("dst")).distinct()
        )
    return out.filter(F.col("src") != F.col("dst")).distinct()


def _cc_star(pairs: DataFrame, max_iter: int) -> DataFrame:
    """Large-star/small-star alternation: O(log^2 n) rounds on ANY graph
    shape (adversarial chains included), at the price of two shuffled
    rounds per iteration. Terminates when an iteration leaves the edge set
    unchanged; at that point edges form stars rooted at component minima."""
    nodes = (
        pairs.select(F.col("id_a").alias("id"))
        .unionByName(pairs.select(F.col("id_b").alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    edges = _symmetrize(pairs)
    n_edges = edges.count()
    for _ in range(max_iter):
        # one full large+small alternation, then symmetric closure for the
        # next round's neighborhoods
        e1 = _star_round(edges, large=True)
        e2 = _star_round(e1, large=False)
        new = (
            e2.unionByName(
                e2.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            )
            .distinct()
            .localCheckpoint(eager=True)  # truncate lineage per round
        )
        new_n = new.count()
        if new_n == n_edges:
            delta = new.exceptAll(edges).limit(1).count()
            if delta == 0:
                edges = new
                break
        edges, n_edges = new, new_n
    else:
        raise RuntimeError(
            f"connected_components(star) did not stabilize in {max_iter} "
            "alternations"
        )
    # stars: every non-root points at its component min; roots label
    # themselves. min over dst per src guards the (src>dst symmetric copy).
    lbl = (
        edges.filter(F.col("dst") < F.col("src"))
        .groupBy("src")
        .agg(F.min("dst").alias("cluster_id"))
        .select(F.col("src").alias("id"), "cluster_id")
    )
    return nodes.join(lbl, "id", "left").select(
        "id", F.coalesce("cluster_id", F.col("id")).alias("cluster_id")
    )


def cluster_representatives(
    labels: DataFrame,
    scores: DataFrame,
    id_col: str = "id",
    label_col: str = "cluster_id",
    score_col: str = "score",
) -> DataFrame:
    """Quality-aware keeper per cluster: (cluster_id, keep_id) where
    keep_id is the member maximizing (score, id) — so deduplication keeps
    the BEST document of each near-dup cluster, not the id-min one
    (FineWeb-style pipelines keep the longest/highest-quality member; the
    id-min convention of `cluster_id` stays as the stable label).

    Scale shape: the score join is on the member id (same key the labels
    already carry) and max(struct) is map-side combinable — one
    aggregation exchange of (cluster_id, score, id) triples, no text."""
    j = labels.join(scores.select(id_col, score_col), id_col)
    return j.groupBy(label_col).agg(
        F.max(F.struct(score_col, id_col)).alias("_best")
    ).select(label_col, F.col(f"_best.{id_col}").alias("keep_id"))


def sessionize(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    order_tiebreak: str = "event_id",
    gap_s: int = 1800,
) -> DataFrame:
    """Gap-based sessions: a new session starts when the inter-event gap
    within a user exceeds `gap_s` seconds.

    Returns one row per session: (user_id, sess_idx, n_events,
    session_start_s, session_end_s, duration_s) with unix-second bounds
    (BIGINT — engine-neutral for cross-engine comparison).
    """
    w = Window.partitionBy(user_col).orderBy(ts_col, order_tiebreak)
    secs = F.unix_timestamp(F.col(ts_col)).alias("s")
    new_flag = (
        F.when(
            F.lag(F.unix_timestamp(F.col(ts_col))).over(w).isNull()
            | (
                F.unix_timestamp(F.col(ts_col))
                - F.lag(F.unix_timestamp(F.col(ts_col))).over(w)
                > gap_s
            ),
            1,
        )
        .otherwise(0)
        .alias("is_new")
    )
    wcum = (
        Window.partitionBy(user_col)
        .orderBy(ts_col, order_tiebreak)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    marked = events.select(
        user_col, ts_col, order_tiebreak, secs, new_flag
    ).withColumn("sess_idx", F.sum("is_new").over(wcum))
    return (
        marked.groupBy(user_col, "sess_idx")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("s").alias("session_start_s"),
            F.max("s").alias("session_end_s"),
        )
        .withColumn(
            "duration_s", F.col("session_end_s") - F.col("session_start_s")
        )
    )


def semantic_dedup(
    df: DataFrame,
    dim: int,
    threshold: float = 0.9,
    n_planes: int | None = None,
    id_col: str = "vec_id",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): label
    every vector with its semantic-duplicate cluster and keep exactly one
    representative per cluster.

    Composition of the repo's scale primitives — no new physical
    machinery: embedding_neardup_pairs (LSH-bucketed candidate equi-join
    + exact cosine verify, never all-pairs) feeds connected_components
    (min-reachable-id labels, deterministic), and every input vector is
    labeled by a left join: cluster members get the component's minimum
    id, singletons get themselves. ``keep`` is true iff the vector IS its
    cluster's minimum id, so the kept set is stable across runs,
    partitionings and retries.

    Output: (vec_id, cluster_id, keep) — one row per input vector.

    Scale shape: the pair graph is bucket-restricted (recall across LSH
    bucket boundaries is part of the contract, as in the reference's
    banded registry family); the final labeling join is a plain equi-join
    on the id, broadcast-able whenever the pair graph is sparse (the
    normal case: near-dup members are a small fraction of the corpus).
    """
    from .similarity import N_PLANES, embedding_neardup_pairs

    planes = N_PLANES if n_planes is None else n_planes
    # embedding_neardup_pairs keys on "vec_id"; alias the caller's id so a
    # non-default id_col labels with the RIGHT ids (not a stray vec_id col)
    vecs = df.select(F.col(id_col).alias("vec_id"), F.col("embedding"))
    pairs = embedding_neardup_pairs(vecs, dim, threshold, planes).select(
        "id_a", "id_b"
    )
    cc = connected_components(pairs)
    labeled = df.select(F.col(id_col)).join(
        cc.withColumnRenamed("id", id_col), id_col, "left"
    )
    return labeled.select(
        F.col(id_col),
        F.coalesce("cluster_id", F.col(id_col)).alias("cluster_id"),
        (F.col(id_col) == F.coalesce("cluster_id", F.col(id_col))).alias(
            "keep"
        ),
    )

"""Filter-audit tooling: the queries a quality-filter team runs while
TUNING the pipeline, not just running it (reference parity: the repo's
stage counters report what the deployed cascade did; these report what
each rule would do independently and what a threshold change would do).

Four operators, all one-aggregate-pass at any scale (`count_stack` is
the shared fused-counter building block; `calibrate_threshold` inverts
the sweep — target keep rate in, threshold out — via one
approx_percentile sketch):

- ``rule_overlap(df, flags)`` — pairwise co-trip counts for a set of
  independent boolean rule columns. The deployed cascade attributes each
  rejection to its FIRST tripped rule; tuning needs the joint
  distribution (a rule whose rejections are 100% covered by earlier
  rules is dead weight; two rules with near-total overlap are one rule).
  All k·(k+1)/2 sums ride ONE map-side-combinable aggregate — the
  exchange carries a single partial-sum row per partition regardless of
  corpus size, so at 100 TB this costs exactly one scan.

- ``threshold_sweep(df, score_col, thresholds)`` — kept-count and
  keep-fraction at each candidate threshold. NOT the naive |T|-pass (or
  row×|T| explode) shape: each row is bucketed once by how many
  thresholds it clears (thresholds sorted ascending → bucket = count of
  thresholds <= score, a tiny static CASE chain inside codegen), buckets
  are counted (exchange ≤ |T|+1 rows), and a reverse cumulative sum over
  the tiny bucket frame yields "kept at >= t" for every t — one scan,
  one |T|-row shuffle, however big the corpus.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import arrow_table


def count_stack(
    df: DataFrame,
    counters: Mapping[str, Column],
    key_col: str = "key",
    count_col: str = "docs",
) -> DataFrame:
    """Count every boolean counter in ONE wide aggregate pass, then stack
    the single result row into (key_col, count_col). However many
    counters ride along, the plan is one scan + a one-row-per-partition
    partial-sum exchange — the building block for fused audit frames
    (emits zero rows too, unlike a groupBy, which audits want to see)."""
    names = list(counters)
    aggs = [
        F.sum(counters[n].cast("long")).alias(f"c{i}")
        for i, n in enumerate(names)
    ]
    wide = df.agg(*aggs)
    stack = ", ".join(
        "'" + n.replace("'", "\\'") + f"', c{i}" for i, n in enumerate(names)
    )
    return wide.selectExpr(
        f"stack({len(names)}, {stack}) AS ({key_col}, {count_col})"
    )


def rule_overlap(df: DataFrame, flags: Mapping[str, Column]) -> DataFrame:
    """(rule_a, rule_b, docs) for every unordered pair a <= b; the
    diagonal row (a, a) is the rule's independent trip count."""
    names = sorted(flags)
    counters = {
        f"{a}\x1f{b}": flags[a] & flags[b]
        for i, a in enumerate(names)
        for b in names[i:]
    }
    stacked = count_stack(df, counters, key_col="pair")
    parts = F.split("pair", "\x1f")
    return stacked.select(
        parts.getItem(0).alias("rule_a"),
        parts.getItem(1).alias("rule_b"),
        "docs",
    )


def threshold_sweep(
    df: DataFrame, score_col: str, thresholds: Sequence[float]
) -> DataFrame:
    """(threshold, kept, keep_frac) per threshold; kept = rows with
    score >= threshold (NULL scores never kept), keep_frac vs all rows."""
    ts = sorted(set(float(t) for t in thresholds))
    s = F.col(score_col)
    bucket = F.lit(0)
    for t in ts:
        bucket = bucket + F.when(s >= F.lit(t), 1).otherwise(0)
    counts = (
        df.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # rows in bucket k cleared thresholds ts[0..k-1]; kept(>= ts[i]) is
    # the sum of buckets >= i+1. Everything past the first aggregate runs
    # on a <= |T|+1-row frame, so the range join and the scalar
    # cross-join are driver-trivial at any corpus size.
    t_frame = df.sparkSession.createDataFrame(
        arrow_table(
            [(i + 1, t) for i, t in enumerate(ts)],
            "bucket_min long, threshold double",
        )
    )
    kept = (
        t_frame.join(counts, counts["bucket"] >= t_frame["bucket_min"], "left")
        .groupBy("threshold")
        .agg(F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("kept"))
    )
    total = counts.agg(F.sum("n").alias("_total"))
    return kept.crossJoin(total).select(
        "threshold",
        "kept",
        F.round(F.col("kept") / F.col("_total"), 6).alias("keep_frac"),
    )


def calibrate_threshold(
    df: DataFrame,
    score_col: str,
    target_keep_frac: float,
    accuracy: int = 10_000,
) -> float:
    """The sweep's inverse: the score threshold that keeps approximately
    `target_keep_frac` of rows (score >= threshold, NULLs never kept).
    One approx_percentile aggregate — a single scan with a bounded-memory
    sketch per partition, no sort, so calibration at 100 TB costs the
    same as any count. `accuracy` is the percentile sketch's 1/epsilon
    (default ~0.01% rank error).
    """
    if not 0.0 < target_keep_frac <= 1.0:
        raise ValueError("target_keep_frac must be in (0, 1]")
    row = df.agg(
        F.approx_percentile(
            score_col, F.lit(1.0 - target_keep_frac), F.lit(accuracy)
        ).alias("t"),
        F.sum(F.col(score_col).isNotNull().cast("long")).alias("nonnull"),
        F.count(F.lit(1)).alias("total"),
    ).collect()[0]
    if row["t"] is None:
        raise ValueError(f"no non-NULL {score_col} values to calibrate on")
    # approx_percentile ranks over non-NULL scores only; if NULLs exist,
    # re-express the target as a fraction of the non-NULL population so
    # the kept fraction of the WHOLE table approaches the target (NULLs
    # are never kept). Guarded: a target larger than the non-NULL share
    # is unreachable — return the minimum score (keep every scored row).
    if row["nonnull"] < row["total"]:
        adj = min(1.0, target_keep_frac * row["total"] / row["nonnull"])
        row = df.agg(
            F.approx_percentile(
                score_col, F.lit(1.0 - adj), F.lit(accuracy)
            ).alias("t")
        ).collect()[0]
    return float(row["t"])

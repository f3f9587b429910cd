"""Checkpointed, idempotent per-partition commits + lineage/metrics tables.

Reproduces the reference's resume semantics (SURVEY.md §2.9 T3/T4/T7:
state JSON + immutable batch files + skip-existing-outputs) with the
Spark-native design: the unit of commit is a conv_id hash bucket; a tiny
lineage record published ATOMICALLY (tmp file + os.replace, the same
primitive as reference storage.py:220-235) marks a bucket group visible.
Readers and reruns trust only the lineage table:

- a killed run leaves data files without lineage rows -> the rerun
  recomputes exactly the uncommitted buckets (dynamic partition overwrite
  discards the partial files), never the committed ones;
- rerunning a completed job is a no-op;
- double commits are impossible (lineage file name == group id).

On a real cluster the input would be an Iceberg table bucket-partitioned by
conv_id so the per-group filter prunes at the manifest level; on plain
parquet the group filter is evaluated in the scan stage (still one pass per
group). With the default single group there is exactly ONE full pass.

The commit loop (``commit_groups``) is written once, over a store that owns
only what differs between backends: which buckets are committed, reading
the committed output, creating the output location, writing one group's
data and publishing one group's lineage rows. ``DirectoryStore`` below
writes under a directory; ``lineage_table.TableStore`` writes to catalog
tables. The loop reads the lineage once per call: the committed set it
starts from also selects the committed output, and each publish adds its
group's buckets to it. Lineage rows are published from an Arrow table
(``session.arrow_table``), so the commit path runs no Python outside the
model stage.

Layout under ``out_dir``:
    data/bucket=NN/part-*.parquet     (snappy, sorted by conv_id, turn_idx)
    _lineage/group-<gid>.parquet      (bucket, status, kept, dropped,
                                       scrubbed, committed_at)
"""

from __future__ import annotations

import os
from datetime import datetime, timezone
from pathlib import Path

import pyarrow.parquet as pq
from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import spec
from .pipeline import run_pipeline
from .session import arrow_table

BUCKET_COL = "bucket"
LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.IntegerType()),
        T.StructField("status", T.StringType()),
        T.StructField("kept", T.LongType()),
        T.StructField("dropped", T.LongType()),
        T.StructField("scrubbed", T.LongType()),
        T.StructField("committed_at", T.TimestampType()),
    ]
)


def bucket_of(col):
    return F.pmod(F.xxhash64(col), F.lit(spec.LINEAGE_BUCKETS)).cast("int")


def committed_buckets(out_dir: str | Path) -> set[int]:
    ldir = Path(out_dir) / "_lineage"
    if not ldir.exists():
        return set()
    done: set[int] = set()
    for f in sorted(ldir.glob("group-*.parquet")):
        t = pq.read_table(f, columns=["bucket"])
        done.update(int(b) for b in t["bucket"].to_pylist())
    return done


def read_lineage(spark: SparkSession, out_dir: str | Path) -> DataFrame:
    # mergeSchema: lineage schema grew committed_at in round 2; a resume
    # over an output dir mixing old 5-col and new 6-col group-*.parquet
    # must surface the column (as null for old files) instead of silently
    # dropping it depending on which footer wins schema inference.
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(str(Path(out_dir) / "_lineage"))
    )


def read_committed_output(
    spark: SparkSession, out_dir: str | Path, done: set[int] | None = None
) -> DataFrame:
    """Reader side of the protocol: only lineage-committed buckets are
    visible (the T4 'no partial visibility' guarantee). ``done`` is the
    committed set when the caller has already read it.

    A committed bucket may have NO data directory: dynamic partition
    overwrite writes nothing for an all-rejected bucket, yet the lineage
    record still marks it committed. Filter the path list to directories
    that exist so the scan never hits PATH_NOT_FOUND; all-empty -> None.
    """
    if done is None:
        done = committed_buckets(out_dir)
    data = Path(out_dir) / "data"
    paths = [
        str(data / f"bucket={b}")
        for b in sorted(done)
        if (data / f"bucket={b}").is_dir()
    ]
    return (
        spark.read.option("basePath", str(data)).parquet(*paths) if paths else None
    )


def group_metric_exprs(group: list[int]) -> list:
    """Per-bucket kept/dropped/scrubbed counters + the engine-clock commit
    timestamp, as observe() expressions over the pre-keep-filter frame."""
    exprs = []
    for b in group:
        is_b = F.col(BUCKET_COL) == b
        exprs += [
            F.sum((is_b & F.col("keep")).cast("long")).alias(f"kept_{b}"),
            F.sum((is_b & ~F.col("keep")).cast("long")).alias(f"dropped_{b}"),
            F.sum(
                (
                    is_b
                    & F.col("keep")
                    & (F.col("scrubbed_text") != F.col("text"))
                ).cast("long")
            ).alias(f"scrubbed_{b}"),
        ]
    # committed_at via the engine clock (reference storage.py:278 analog)
    exprs.append(F.max(F.current_timestamp()).alias("committed_at"))
    return exprs


def group_lineage_rows(
    kept: DataFrame, group: list[int], obs: Observation
) -> list[tuple]:
    """One ``LINEAGE_SCHEMA`` row per bucket of a written group, from the
    observed metrics, with the same metrics as an explicit agg for
    all-rejected groups (whose zero-row write lets AQE eliminate the
    CollectMetrics subtree so the observation never fires)."""
    try:
        got = obs.get
    except Exception:  # noqa: BLE001
        got = kept.agg(*group_metric_exprs(group)).first().asDict()

    def _stat(b: int, k: str) -> int:
        v = got.get(f"{k}_{b}")
        return int(v) if v is not None else 0

    committed_at = got.get("committed_at") or datetime.now(timezone.utc)
    return [
        (
            b,
            "committed",
            _stat(b, "kept"),
            _stat(b, "dropped"),
            _stat(b, "scrubbed"),
            committed_at,
        )
        for b in group
    ]


class DirectoryStore:
    """Commit target under ``out_dir`` (layout in the module docstring)."""

    def __init__(self, spark: SparkSession, out_dir: str | Path):
        self.spark = spark
        self.out = Path(out_dir)

    def committed(self) -> set[int]:
        return committed_buckets(self.out)

    def read_committed(self, done: set[int]) -> DataFrame | None:
        return read_committed_output(self.spark, self.out, done)

    def create(self, data: DataFrame) -> None:
        (self.out / "data").mkdir(parents=True, exist_ok=True)
        (self.out / "_lineage").mkdir(parents=True, exist_ok=True)

    def write_data(self, staged: DataFrame) -> None:
        # dynamic overwrite replaces only the touched buckets; as a writer
        # option it leaves the session's overwrite mode as it was
        (
            staged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(BUCKET_COL)
            .option("compression", "snappy")
            .parquet(str(self.out / "data"))
        )

    def publish(self, gid: str, rows: list[tuple]) -> None:
        # atomic publish: tmp file + rename
        final = self.out / "_lineage" / f"group-{gid}.parquet"
        tmp = self.out / "_lineage" / f".group-{gid}.tmp"
        pq.write_table(arrow_table(rows, LINEAGE_SCHEMA), tmp, compression="snappy")
        os.replace(tmp, final)


def commit_groups(
    spark: SparkSession,
    transcripts: DataFrame,
    store,
    n_groups: int = 1,
    max_groups: int | None = None,
) -> dict:
    """Filter + scrub + write into ``store`` (``DirectoryStore`` or
    ``lineage_table.TableStore``), committing one bucket group at a time.

    ``max_groups`` exists for kill-simulation in tests (process only the
    first K groups, as if the job died there).

    The store's lineage is read once: ``committed()`` at the start. A
    publish is the commit point, so ``committed_now`` is that set plus
    the buckets published here.
    """
    done = store.committed()
    pending = [b for b in range(spec.LINEAGE_BUCKETS) if b not in done]
    groups = [g for g in (pending[i::n_groups] for i in range(n_groups)) if g]

    if not groups:
        return {
            "committed_before": len(done),
            "committed_now": len(done),
            "groups_processed": 0,
            "buckets_processed": 0,
        }

    # ONE pipeline pass over all pending buckets, persisted, so per-group
    # commits slice cached results instead of recomputing. Dedup is
    # therefore global over (pending ∪ committed-registry): starting from an
    # empty registry this reproduces the uninterrupted global dedup exactly,
    # and any kill/resume sequence converges to the same kept set.
    # (Committed-hash registry = reference J1 / seen_hashes.json analog.)
    if max_groups is not None:
        # kill simulation: the verdict pass over ALL pending always runs
        # (a real kill interrupts the commit loop, after compute) — only
        # the commits are cut short
        groups = groups[:max_groups]
    pending_src = transcripts.filter(bucket_of(F.col("conv_id")).isin(pending))
    committed_df = store.read_committed(done)
    # Snapshot the registry: every write into the store refreshes the cached
    # plans that read it, so a live registry scan would drop kept_all's
    # persisted blocks after each group and rerun the pipeline for the next.
    # (A local checkpoint: recomputing kept_all after an executor loss that
    # took registry blocks fails the job; the rerun resumes from lineage.)
    registry = (
        committed_df.select("norm_key").localCheckpoint()
        if committed_df is not None
        else None
    )
    # slim_dedup=False: this path persists kept_all (full payload) right
    # below anyway, so a second cached intermediate inside the dedup would
    # only double the storage footprint of the run.
    verdicts = run_pipeline(
        spark,
        pending_src,
        exclude_keys=registry,
        include_norm_key=True,
        slim_dedup=False,
    )
    kept_all = (
        pending_src.join(
            verdicts.select(
                "conv_id", "turn_idx", "keep", "scrubbed_text", "lang",
                "ppl_bucket", "norm_key",
            ),
            ["conv_id", "turn_idx"],
        ).withColumn(BUCKET_COL, bucket_of(F.col("conv_id")))
    ).persist(StorageLevel.DISK_ONLY)
    # DISK_ONLY: kept_all carries the full text payload; at cluster scale a
    # MEMORY_AND_DISK cache of the whole corpus evicts everything else.
    try:
        store.create(kept_all)
        for group in groups:
            gid = "-".join(str(b) for b in group)
            kept = kept_all.filter(F.col(BUCKET_COL).isin(group))
            # Single-pass metrics (reference T8/A2 via df.observe, SURVEY
            # §2.9): the CollectMetrics node sits UNDER the keep-filter, so
            # the write action itself produces the per-bucket
            # kept/dropped/scrubbed counters — no second aggregation pass.
            obs = Observation(f"lineage-{gid}")
            store.write_data(
                kept.observe(obs, *group_metric_exprs(group))
                .filter("keep")
                .drop("keep")
                .repartition(BUCKET_COL)
                .sortWithinPartitions("conv_id", "turn_idx")
            )
            # the lineage record IS the commit point
            store.publish(gid, group_lineage_rows(kept, group, obs))
    finally:
        kept_all.unpersist()
    processed = sum(len(g) for g in groups)
    return {
        "committed_before": len(done),
        "committed_now": len(done) + processed,
        "groups_processed": len(groups),
        "buckets_processed": processed,
    }


def run_with_lineage(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str | Path,
    n_groups: int = 1,
    max_groups: int | None = None,
) -> dict:
    """``commit_groups`` into the directory ``out_dir``."""
    return commit_groups(
        spark, transcripts, DirectoryStore(spark, out_dir), n_groups, max_groups
    )

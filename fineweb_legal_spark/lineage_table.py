"""Catalog-table backend for the lineage commit protocol.

Same contract as ``lineage.run_with_lineage`` (reference T3/T4/T7
resume semantics — state + immutable outputs + skip-committed), but the
filtered output AND the lineage/metrics records live in catalog tables
written through ``sources.catalog.TableIO`` — i.e. Iceberg snapshot
commits when an Iceberg catalog is plugged in, stock session-catalog
parquet tables otherwise.  This is the north rule's output contract
verbatim: "writes filtered output plus per-partition lineage and stage
metrics back to Iceberg with checkpointed, idempotent per-partition
commits so a killed run resumes without recomputation."

Protocol (unit of commit = conv_id hash bucket, same as the directory
backend):

1. data for the group's buckets → ``overwrite_partitions(data_table)``
2. lineage rows (bucket, status, kept/dropped/scrubbed, committed_at)
   → ``overwrite_partitions(lineage_table)``

The lineage row is the commit point.  Both writes replace whole bucket
partitions, so every crash window converges under replay:

- killed before (1): nothing visible (Iceberg: no snapshot; fallback:
  dynamic-overwrite staging) → rerun recomputes the group;
- killed between (1) and (2): data visible but unreferenced by lineage
  → the bucket counts as UNcommitted; the rerun recomputes it and the
  partition overwrite replaces the orphan data wholesale;
- killed after (2): bucket committed; reruns skip it (the pending
  anti-set) and a forced replay of the same group rewrites identical
  partitions — idempotent, duplicates impossible.

The commit loop itself is ``lineage.commit_groups``, shared with the
directory backend; ``TableStore`` supplies the table reads and writes.
The loop collects the lineage table once per call, and every frame
``TableStore`` writes is built from Arrow (``session.arrow_table``): it
plans as a ``LocalTableScan``, so publishing a group starts no Python
task and no second Python worker pool beside the model stage's.

Scale note: the lineage table stays O(LINEAGE_BUCKETS) rows per run —
``committed_buckets_table`` may collect() it on the driver.  The data
table is partitioned by bucket, so the committed-reader's
``isin(<=LINEAGE_BUCKETS literals)`` filter prunes at the partition
(Iceberg: manifest) level, and on a real deployment LINEAGE_BUCKETS
scales with the cluster (one bucket ≈ one commit quantum), not with
rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .lineage import BUCKET_COL, LINEAGE_SCHEMA, commit_groups
from .session import arrow_table
from .sources.catalog import TableIO


def committed_buckets_table(spark: SparkSession, lineage_table: str) -> set[int]:
    if not spark.catalog.tableExists(lineage_table):
        return set()
    rows = (
        spark.table(lineage_table)
        .filter(F.col("status") == "committed")
        .select("bucket")
        .collect()
    )
    return {int(r.bucket) for r in rows}


def read_committed_table(
    spark: SparkSession,
    data_table: str,
    lineage_table: str,
    done: set[int] | None = None,
) -> DataFrame | None:
    """Reader side: only lineage-committed buckets are visible (T4).
    The bucket filter is a literal isin over committed partition values,
    so the scan prunes uncommitted partitions instead of reading them.
    ``done`` is the committed set when the caller has already read it."""
    if done is None:
        done = committed_buckets_table(spark, lineage_table)
    if not done or not spark.catalog.tableExists(data_table):
        return None
    return spark.table(data_table).filter(
        F.col(BUCKET_COL).isin(sorted(done))
    )


class TableStore:
    """Commit target: a bucket-partitioned data table plus a lineage table
    over ``LINEAGE_SCHEMA``, both written by partition overwrite."""

    def __init__(
        self, spark: SparkSession, data_table: str, lineage_table: str, io: TableIO
    ):
        self.spark = spark
        self.data_table = data_table
        self.lineage_table = lineage_table
        self.io = io

    def committed(self) -> set[int]:
        return committed_buckets_table(self.spark, self.lineage_table)

    def read_committed(self, done: set[int]) -> DataFrame | None:
        return read_committed_table(
            self.spark, self.data_table, self.lineage_table, done
        )

    def create(self, data: DataFrame) -> None:
        # create-if-absent with EMPTY frames: every actual write goes
        # through overwrite_partitions, so creation never double-writes data
        self.io.ensure(
            data.limit(0).drop("keep"), self.data_table, partition_by=[BUCKET_COL]
        )
        self.io.ensure(
            self.spark.createDataFrame(arrow_table([], LINEAGE_SCHEMA)),
            self.lineage_table,
            partition_by=["bucket"],
        )

    def write_data(self, staged: DataFrame) -> None:
        self.io.overwrite_partitions(staged, self.data_table)

    def publish(self, gid: str, rows: list[tuple]) -> None:
        self.io.overwrite_partitions(
            self.spark.createDataFrame(arrow_table(rows, LINEAGE_SCHEMA)),
            self.lineage_table,
        )


def run_with_lineage_table(
    spark: SparkSession,
    transcripts: DataFrame,
    data_table: str,
    lineage_table: str,
    n_groups: int = 1,
    max_groups: int | None = None,
    io: TableIO | None = None,
) -> dict:
    """``lineage.commit_groups`` into catalog tables.  ``max_groups``
    simulates a kill after K commits (tests)."""
    store = TableStore(spark, data_table, lineage_table, io or TableIO(spark))
    return commit_groups(spark, transcripts, store, n_groups, max_groups)

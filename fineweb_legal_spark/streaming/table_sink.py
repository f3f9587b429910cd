"""Exactly-once streaming commits to a catalog table (foreachBatch +
batch-id partition overwrite).

Structured Streaming's parquet sink gets exactly-once from its own
file-manifest log; a CATALOG table needs the sink to provide it, and the
canonical pattern (the same one Iceberg documents for foreachBatch) is
batch-id-addressed idempotent writes: tag every micro-batch with its
``batch_id``, partition the table by it, and commit with
``overwrite_partitions``.  foreachBatch is at-least-once — after a crash
between the table commit and the checkpoint advance, the SAME batch id
is replayed with the SAME data (the checkpoint pins each batch's source
offsets), and the partition overwrite rewrites that batch's slice
instead of appending a duplicate.

This composes with ``sources.catalog.TableIO`` exactly like the batch
lineage backend (``lineage_table.py``): Iceberg snapshot commits when a
V2 catalog is plugged in, session-catalog dynamic partition overwrite
otherwise.  The directory twin of this discipline is
``registry_stream._commit_batch`` (slice files addressed
``run_base + batch_id``); here the table's partition spec carries the
address instead of file names.

Scale notes: one partition per micro-batch is the same cardinality as
one file-set per micro-batch — bounded by trigger rate, folded by
ordinary table compaction.  Readers who don't care about provenance
just read the table; ``batch_id`` also gives free incremental
consumption (``WHERE batch_id > last_seen``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import TableIO
from .filter_stream import kept_stream

BATCH_COL = "batch_id"


def table_batch_writer(io: TableIO, table: str):
    """A foreachBatch function committing each micro-batch to ``table``
    as an idempotent batch-id partition overwrite.  Creates the table
    (partitioned by batch_id) on the first non-empty batch."""

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        # availableNow runs can end on an empty watermark-flush batch;
        # an empty overwrite touches no partitions but still costs a job
        if batch_df.isEmpty():
            return
        tagged = batch_df.withColumn(BATCH_COL, F.lit(int(batch_id)))
        io.ensure(tagged.limit(0), table, partition_by=[BATCH_COL])
        io.overwrite_partitions(tagged, table)

    return fn


def start_filter_stream_to_table(
    spark: SparkSession,
    src_dir: str,
    table: str,
    checkpoint_dir: str,
    io: TableIO | None = None,
):
    """The filter stream (same scoring + watermarked-dedup contract as
    start_filter_stream) committing kept turns to a catalog table."""
    kept = kept_stream(spark, src_dir)
    return (
        kept.writeStream.foreachBatch(table_batch_writer(io or TableIO(spark), table))
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )

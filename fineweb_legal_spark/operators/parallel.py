"""Partitioning helpers for Python-kernel stages.

AQE's partition coalescing sizes post-shuffle partitions by BYTES
(advisoryPartitionSizeInBytes / minPartitionSize), which is right for
JVM operators but wrong for Python group kernels: a 3 MB conv_id shuffle
coalesces to 1-2 partitions and the whole Python stage after it
serializes onto 1-2 cores while 30 sit idle (round 6, measured on
pseudonymize_pii, then an applyInPandas stage: 2.70 s distributed vs
1.79 s single-core pure-Python — the cluster was adding overhead, not
parallelism). Work-per-byte in these stages is
orders of magnitude higher than AQE's byte model assumes, so the
exchange width must come from the compute budget, not the byte count.

This module is the one place that decides exchange width.
``session.get_spark`` sets ``spark.sql.shuffle.partitions`` to a local
session's ``defaultParallelism`` unless the caller configured it (a
cluster master keeps spark-submit's value), and every operator that
fixes a width asks :func:`group_parallelism`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def group_parallelism(df: DataFrame) -> int:
    """Exchange width for a Python group-kernel stage: the configured
    shuffle parallelism, floored by the cluster's slot count. On a real
    cluster shuffle.partitions (usually >> slots) governs, unchanged; in
    local mode it stops AQE from coalescing below the core count."""
    spark = df.sparkSession
    return max(
        spark.sparkContext.defaultParallelism,
        int(spark.conf.get("spark.sql.shuffle.partitions")),
    )


def repartition_for_group_kernel(df: DataFrame, *cols: str) -> DataFrame:
    """Hash-repartition on ``cols`` at :func:`group_parallelism` width.

    A user-specified repartition is not AQE-coalescible, and a groupBy /
    applyInPandas on the same keys reuses its exchange (same hash
    partitioning, same width), as does a ``sortWithinPartitions`` +
    ``mapInArrow`` pass over it, so the plan still has exactly ONE
    shuffle — just one whose width feeds every core.
    """
    return df.repartition(group_parallelism(df), *cols)


def widen(df: DataFrame) -> DataFrame:
    """Spread a scan that has fewer splits than the cluster has slots.

    Single-row-group fixture files plan 1-2 splits, so every
    zero-exchange Arrow kernel downstream would serialize onto 1-2 cores
    (measured: dup_ngram_signals at sf1.0 ran 11.9 s on a 2-split scan).
    Only then does one small RoundRobin exchange spread the rows to
    :func:`group_parallelism` partitions; a production many-file table
    already has >= slots splits and is returned untouched.
    """
    if df.rdd.getNumPartitions() < df.sparkSession.sparkContext.defaultParallelism:
        return df.repartition(group_parallelism(df))
    return df

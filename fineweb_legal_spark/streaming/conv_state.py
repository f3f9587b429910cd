"""Custom stateful streaming operator: running per-conversation aggregates
via ``applyInPandasWithState``.

This is the Spark-native form of "keep a dict of per-key running counters
across the whole stream" (the reference keeps exactly such counters in its
ProcessingState JSON, stream_filter_stage1.py:231-280 — but only globally;
here the state is per conversation and survives micro-batch boundaries in
the state store, checkpointed for exactly-once recovery).

Semantics: for every micro-batch, each conversation's state is updated
with the new turns and ONE updated summary row is emitted (Update output
mode) — the last emitted row per conversation is its cumulative truth.
State is explicit and bounded: four numbers per conversation.

Word counting mirrors textstats: words = maximal non-whitespace runs.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turns", T.LongType()),
        T.StructField("total_words", T.LongType()),
        T.StructField("max_turn_idx", T.IntegerType()),
        T.StructField("mean_words", T.DoubleType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("turns", T.LongType()),
        T.StructField("total_words", T.LongType()),
        T.StructField("max_turn_idx", T.IntegerType()),
    ]
)


def _update_conv(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (conv_id,) = key
    turns, words, max_idx = state.get if state.exists else (0, 0, -1)
    for pdf in pdfs:
        turns += len(pdf)
        texts = pdf["text"]
        words += int(texts.fillna("").str.split().map(len).sum())
        if len(pdf):
            max_idx = max(max_idx, int(pdf["turn_idx"].max()))
    state.update((turns, words, max_idx))
    yield pd.DataFrame(
        {
            "conv_id": [conv_id],
            "turns": [turns],
            "total_words": [words],
            "max_turn_idx": [max_idx],
            "mean_words": [words / turns if turns else 0.0],
        }
    )


def conv_running_stats(stream: DataFrame) -> DataFrame:
    """Apply the stateful per-conversation aggregator to a streaming frame
    with (conv_id, turn_idx, text) columns."""
    return (
        stream.select("conv_id", "turn_idx", "text")
        .groupBy("conv_id")
        .applyInPandasWithState(
            _update_conv,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def start_conv_state_stream(
    spark,
    src_dir: str,
    table_name: str = "conv_running_stats",
):
    """Start the stateful aggregator over a parquet file stream, emitting
    Update-mode rows into an in-memory table (the last row per conv_id is
    the cumulative summary). Durable sinks would use foreachBatch upsert."""
    from .filter_stream import TRANSCRIPT_SCHEMA

    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(src_dir)
    )
    out = conv_running_stats(stream)
    return (
        out.writeStream.format("memory")
        .queryName(table_name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )

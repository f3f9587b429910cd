"""Structured Streaming variant of the quality filter.

The reference's "streaming" is a resumable single-consumer pull loop
(SURVEY.md §2.9); the batch pipeline + lineage covers that exactly. This
module additionally provides a true Structured Streaming path for
continuously-arriving transcript files:

- micro-batch trigger (`availableNow`) == the reference's count-based
  flush loop (T2), with the checkpointed file-sink giving exactly-once
  output (T3/T4);
- dedup uses `withWatermark + dropDuplicates` — FIRST-ARRIVAL wins, the
  reference's actual cross-run registry semantics (storage.py:110-129),
  which differs from the batch engine's deterministic min-key winner (a
  stream cannot know a smaller key will arrive later);
- conversation-level mean-words is a windowed stateful aggregate with a
  watermark for late turns, NOT a global per-conv join (unbounded state).
  Per-turn heuristics therefore run without the conv_stats stage here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..pipeline import heuristic_features, heuristic_reason_col, model_stage

TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)


def _scored_stream(spark: SparkSession, src_dir: str) -> DataFrame:
    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(src_dir)
    )
    feats = heuristic_features(stream.select("conv_id", "turn_idx", "ts", "text"))
    # conv_stats is a global aggregate -> not applicable per-row in a
    # stream; neutralize that branch of the cascade
    heur = feats.withColumn("conv_mean_words", F.lit(1e9)).withColumn(
        "heur_reason", heuristic_reason_col()
    )
    # ts stays in the JVM row for watermarking downstream
    return model_stage(spark, heur, "conv_id", "turn_idx", "ts")


def _start_parquet_sink(frame: DataFrame, out_dir: str, checkpoint_dir: str):
    """Drain everything available now into a checkpointed parquet sink
    (append mode, exactly-once) and return the running query."""
    return (
        frame.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def kept_stream(spark: SparkSession, src_dir: str) -> DataFrame:
    """Scored stream → kept rows after the watermarked bounded-window
    dedup (contract documented on start_filter_stream). Shared by the
    parquet-directory sink and the catalog-table sink."""
    scored = _scored_stream(spark, src_dir)
    return (
        scored.filter(F.col("reason0").isNull())
        .withWatermark("ts", "1 hour")
        # dropDuplicatesWithinWatermark: keys whose event time passes the
        # watermark are EVICTED from the dedup state store. Plain
        # dropDuplicates(["norm_key"]) never evicts (the event-time column
        # is not part of the key set), so a long-running stream grows state
        # without bound.
        .dropDuplicatesWithinWatermark(["norm_key"])
        .select("conv_id", "turn_idx", "ts", "lang", "ppl_bucket", "scrubbed_text")
    )


def start_filter_stream(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """Filter + scrub + watermarked first-arrival dedup; kept turns land in
    a checkpointed parquet sink (exactly-once).

    Dedup CONTRACT (weaker than the batch pipeline, deliberately): a
    duplicate norm_key arriving within the 1-hour watermark of its first
    occurrence is dropped; one arriving after the watermark has passed the
    first occurrence is EMITTED AGAIN — bounded state in exchange for
    bounded-window dedup semantics. The batch pipeline and the reference's
    never-evicting registry dedup globally; a stream that must match them
    exactly needs the lineage-registry anti-join on top (lineage.py), not
    a bigger watermark. Asserted in tests/test_streaming.py::
    test_stream_dedup_watermark_contract."""
    kept = kept_stream(spark, src_dir)
    return _start_parquet_sink(kept, out_dir, checkpoint_dir)


def start_session_stream(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    gap: str = "30 minutes",
    delay: str = "1 hour",
):
    """Native streaming session windows: per-conversation activity bursts
    via `session_window(ts, gap)` — windows merge in the state store as
    turns arrive and are emitted (append mode) only once the watermark
    passes their end, so late data within `delay` still extends a
    session. The batch twin of the same expression is the ground truth in
    tests; the gap-based batch sessionizer (operators/cluster.py) is the
    oracle-checked variant of the same semantics."""
    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(src_dir)
    )
    agg = (
        stream.withWatermark("ts", delay)
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("conv_id"))
        .agg(F.count(F.lit(1)).alias("n_turns"))
        .select(
            F.col("w.start").alias("sess_start"),
            F.col("w.end").alias("sess_end"),
            "conv_id",
            "n_turns",
        )
    )
    return _start_parquet_sink(agg, out_dir, checkpoint_dir)


def start_conv_metrics_stream(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    window: str = "1 hour",
):
    """Windowed per-conversation stage metrics with late-data watermark
    (kept/dropped counts per event-time window — the _metrics table analog,
    reference A1/T8)."""
    scored = _scored_stream(spark, src_dir)
    agg = (
        scored.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", window), F.col("conv_id"))
        .agg(
            F.sum(F.col("reason0").isNull().cast("long")).alias("kept"),
            F.sum(F.col("reason0").isNotNull().cast("long")).alias("dropped"),
        )
        .select(
            F.col("window.start").alias("win_start"),
            "conv_id",
            "kept",
            "dropped",
        )
    )
    return _start_parquet_sink(agg, out_dir, checkpoint_dir)

"""Registry-backed streaming dedup: exactly-once, never-evicting.

`filter_stream.start_filter_stream` bounds dedup state with a watermark
(its documented trade: a duplicate arriving after the watermark passes is
re-emitted). THIS path keeps the reference's actual contract — a
cross-run registry that never forgets (storage.py:81-129) — by doing the
dedup in `foreachBatch` against a parquet norm-key registry instead of
the state store:

- within a micro-batch, winner = min(conv_id, turn_idx) per norm_key (the
  batch engine's deterministic rule);
- across batches/restarts, FIRST COMMITTED wins (the registry's
  first-arrival semantics — a stream cannot know a smaller key arrives
  later);
- exactly-once without the file-sink's state: every batch writes to
  deterministic, slice-addressed locations (`out/batch=<sid>/`,
  `registry/batch-<sid>.parquet`) in overwrite mode, so a replayed batch
  (foreachBatch's at-least-once) lands on the same paths with the same
  content — idempotent by construction, the same trick as the lineage
  commit protocol.

Slice ids and checkpoint lineages: a slice id is ``run_base + batch_id``,
where ``run_base`` is pinned in a sidecar inside the CHECKPOINT directory
the first time the stream starts (fresh checkpoint over an existing
registry -> run_base = max existing slice id + 1). This resolves the two
failure modes that a bare batch_id cannot:

- REPLAY (same checkpoint, crash between the writes and the checkpoint
  commit): run_base is unchanged, so the replayed batch maps to the SAME
  slice id; that slice — its own failed attempt — is excluded from the
  anti-join read, and the replay reproduces the first attempt exactly
  instead of anti-joining itself down to an empty overwrite.
- NEW RUN over the same registry (fresh checkpoint, batch ids restart at
  0): run_base jumps past every committed slice, so no old slice is ever
  overwritten and ALL of them participate in the anti-join — the registry
  never forgets across runs.

Scale notes: the registry read is a parquet scan of norm_key only
(column-pruned); the anti-join is a shuffle join on the 32-byte key —
at 10^12 turns the registry lives bucketed by norm_key so the join is
storage-partitioned. State never lives in the streaming state store, so
executor memory is flat regardless of stream lifetime.
"""

from __future__ import annotations

import json
import re
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import arrow_table
from .filter_stream import _scored_stream

_OUT_COLS = ["conv_id", "turn_idx", "ts", "lang", "ppl_bucket", "scrubbed_text"]


def _slice_id(path: Path) -> int:
    # "batch-12" -> 12; "base-57" -> 57; "base-57.g2" (a re-compacted
    # generation, see compact_registry) -> 57
    return int(re.search(r"-(\d+)", path.stem).group(1))


def _registry_files(registry_dir: str | Path) -> list[Path]:
    """Every committed registry file: compacted bases + per-batch slices."""
    p = Path(registry_dir)
    return sorted(p.glob("base-*.parquet")) + sorted(p.glob("batch-*.parquet"))


def _pin_run_base(checkpoint_dir: str, registry_dir: str) -> int:
    """The run's slice-id offset, pinned once per checkpoint lineage (see
    module docstring). Atomic write-then-rename so a crash mid-start
    cannot leave a torn sidecar. Compacted base files count toward the
    max (a fully-compacted registry must still push a new run past the
    ids its base already covers)."""
    cp = Path(checkpoint_dir)
    cp.mkdir(parents=True, exist_ok=True)
    sidecar = cp / "registry-run-base.json"
    if sidecar.exists():
        return int(json.loads(sidecar.read_text())["run_base"])
    existing = [_slice_id(p) for p in _registry_files(registry_dir)]
    base = max(existing) + 1 if existing else 0
    tmp = cp / "registry-run-base.json.tmp"
    tmp.write_text(json.dumps({"run_base": base}))
    tmp.replace(sidecar)
    return base


def compact_registry(
    spark: SparkSession, registry_dir: str, keep_last: int = 1
) -> int:
    """Merge committed per-batch slices into one ``base-<sid>.parquet``
    (sid = highest id folded in) and delete the merged files. Returns the
    number of files removed.

    At 10^6 micro-batches the slice COUNT is itself the scale problem —
    every anti-join read lists and opens a file per batch. Compaction is
    an OFFLINE maintenance op (run it between streams or from a
    maintenance job, not concurrently with an active writer, like any
    parquet compaction).

    Crash-safety is by idempotent semantics, the same trick as the commit
    protocol: the base is published first (write tmp dir -> atomic
    directory rename), THEN the merged inputs are deleted. A crash in between leaves
    keys duplicated across base + slices, which the dedup anti-join is
    insensitive to, and re-running compaction converges. ``keep_last``
    newest slices stay uncompacted so a crashed LAST batch can still
    replay without finding its own keys inside the base (foreachBatch
    replays only the newest uncommitted batch)."""
    import shutil

    reg = Path(registry_dir)
    bases = sorted(reg.glob("base-*.parquet"))
    slices = sorted(reg.glob("batch-*.parquet"), key=_slice_id)
    merge = bases + slices[: max(0, len(slices) - keep_last)]
    if len(merge) <= 1:
        return 0
    upto = max(_slice_id(p) for p in merge)
    df = spark.read.parquet(*[str(p) for p in merge]).select("norm_key")
    # the base is a multi-part parquet DIRECTORY published by atomic
    # directory rename — no coalesce(1): a single writer cannot hold at
    # 10^12 keys, and spark reads the slice list transparently either way
    # (at that scale, repartition by norm_key here to make later
    # anti-joins storage-partitioned)
    tmp = reg / f"_tmp-base-{upto}"
    shutil.rmtree(tmp, ignore_errors=True)
    df.distinct().write.mode("overwrite").parquet(str(tmp))
    # publish under a name that does NOT yet exist (".g<gen>" when
    # base-<upto> is already live — a crashed prior compaction, or an old
    # straggler slice with sid < the base's). rmtree(final)-then-rename
    # had a crash window where the only copy of the old base's keys was
    # gone before the superset landed; a fresh-name rename is atomic and
    # the old base stays readable until the post-publish deletion loop,
    # whose crash leaves only harmless duplicates (anti-join-insensitive,
    # re-compaction converges).
    final = reg / f"base-{upto}.parquet"
    gen = 1
    while final.exists():
        gen += 1
        final = reg / f"base-{upto}.g{gen}.parquet"
    tmp.rename(final)
    removed = 0
    for p in merge:
        if p.name != final.name:
            if p.is_dir():
                shutil.rmtree(p, ignore_errors=True)
            else:
                p.unlink(missing_ok=True)
            removed += 1
    return removed


def _commit_batch(
    out_dir: str,
    registry_dir: str,
    run_base: int,
    bloom_state: dict | None = None,
):
    def fn(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        sid = run_base + batch_id
        kept = batch_df.filter(F.col("reason0").isNull())

        # within-batch dedup: deterministic min-key winner
        w = Window.partitionBy("norm_key").orderBy("conv_id", "turn_idx")
        kept = kept.withColumn("_rn", F.row_number().over(w)).filter(
            F.col("_rn") == 1
        )

        # cross-batch dedup: anti-join every committed registry file
        # (compacted bases + slices) EXCEPT this batch's own slice (a
        # prior failed attempt of the same slice id — including it would
        # empty the replay; see module docstring). Bases never contain
        # the current batch: compaction is offline and keeps the newest
        # slice out (compact_registry keep_last).
        reg_path = Path(registry_dir)
        reg_files = sorted(
            str(p)
            for p in _registry_files(reg_path)
            if not (p.name == f"batch-{sid}.parquet")
        )
        if reg_files:
            registry = spark.read.parquet(*reg_files).select("norm_key")
            if bloom_state is not None:
                # Bloom acceleration (module docstring "Scale notes"):
                # the driver-held filter covers every committed slice
                # (built at stream start, grown after each commit), so
                # definitely-new rows skip the join and the registry is
                # reduced by broadcast semi-join instead of shuffled.
                # Correctness needs only bloom ⊇ anti-joined slices —
                # extra keys (a failed attempt's own slice after driver
                # restart) just route rows into the exact join.
                from fineweb_legal_spark.operators.bloom import (
                    bloom_filtered_antijoin,
                    build_bloom,
                )

                if "filter" not in bloom_state:
                    bloom_state["filter"] = build_bloom(
                        registry,
                        "norm_key",
                        expected=bloom_state["expected"],
                        fpp=bloom_state["fpp"],
                    )
                kept = bloom_filtered_antijoin(
                    kept,
                    registry,
                    "norm_key",
                    bloom=bloom_state["filter"],
                    survivors_broadcast=True,
                )
            else:
                kept = kept.join(registry, "norm_key", "left_anti")

        # deterministic slice-addressed writes -> replay-idempotent
        kept = kept.persist()
        try:
            kept.select(*_OUT_COLS).write.mode("overwrite").parquet(
                f"{out_dir}/batch={sid}"
            )
            reg_path.mkdir(parents=True, exist_ok=True)
            tmp = reg_path / f"_tmp-batch-{sid}"
            # coalesce(1): the publish below takes exactly one part file, and
            # kept comes out of window/anti-join shuffles with potentially
            # many non-empty partitions — without this, extra parts would be
            # silently dropped and their keys re-emitted in later batches.
            # A micro-batch's norm_key set is small; one writer task is fine.
            kept.select("norm_key").coalesce(1).write.mode(
                "overwrite"
            ).parquet(str(tmp))
            # single-file atomic publish (same rename trick as lineage)
            import shutil

            part = next(Path(tmp).glob("part-*.parquet"), None)
            final = reg_path / f"batch-{sid}.parquet"
            if part is not None:
                part.replace(final)
            else:  # empty batch: publish an empty registry slice
                spark.createDataFrame(
                    arrow_table([], "norm_key string")
                ).write.mode("overwrite").parquet(str(tmp))
                part = next(Path(tmp).glob("part-*.parquet"))
                part.replace(final)
            shutil.rmtree(tmp, ignore_errors=True)
            if bloom_state is not None:
                # grow the filter with this batch's committed keys. The
                # collect is micro-batch-sized (the same assumption as
                # the coalesce(1) slice publish above); add_hashes is
                # idempotent, so a replay re-adding is harmless, and a
                # crash before this line just means the restart rebuilds
                # the filter from the files.
                from fineweb_legal_spark.operators.bloom import empty_bloom

                if "filter" not in bloom_state:
                    bloom_state["filter"] = empty_bloom(
                        bloom_state["expected"], bloom_state["fpp"]
                    )
                import numpy as np

                h = np.array(
                    [
                        r.h
                        for r in kept.select(
                            F.xxhash64("norm_key").alias("h")
                        ).collect()
                    ],
                    dtype=np.int64,
                )
                if len(h):
                    bloom_state["filter"].add_hashes(h)
        finally:
            kept.unpersist()

    return fn


def start_registry_filter_stream(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    registry_dir: str,
    bloom_fpp: float | None = None,
    bloom_expected: int = 1_000_000,
):
    """Filter + scrub + registry dedup; kept turns land under
    ``out_dir/batch=<slice id>/`` with the norm-key registry growing under
    ``registry_dir`` — global dedup with no state-store eviction, across
    restarts AND across fresh-checkpoint re-runs over the same registry.

    ``bloom_fpp`` (None = off) enables the Bloom accelerator: a
    driver-held filter of every committed registry key (built once at the
    first non-empty anti-join, grown per commit, rebuilt from the files
    on restart) prefilters each batch so definitely-new rows skip the
    join and the registry is broadcast-semi-reduced instead of shuffled
    (`operators/bloom.py`). Output is IDENTICAL to the plain path — no
    false negatives — verified by tests/test_streaming.py. Size
    ``bloom_expected`` to the registry's target capacity; monitor
    ``saturation()`` and rebuild alongside registry compaction."""
    run_base = _pin_run_base(checkpoint_dir, registry_dir)
    bloom_state = (
        None
        if bloom_fpp is None
        else {"fpp": bloom_fpp, "expected": bloom_expected}
    )
    scored = _scored_stream(spark, src_dir)
    return (
        scored.writeStream.foreachBatch(
            _commit_batch(out_dir, registry_dir, run_base, bloom_state)
        )
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )

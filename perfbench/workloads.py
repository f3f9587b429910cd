"""The timed operations of each workload, called from ``measure.py``.

A workload object builds its DataFrames from the manifest written by
``inputs.py``; ``run(i)`` does one operation and returns its timed phases
and whether its output matched the oracle digest. The check runs after
the clock stops, or rides on the timed write as an observation.

Every Spark action is tagged with ``tag(spark, "<phase>#<i>")`` so that
the event log can be split per phase and operation.
"""

from __future__ import annotations

import time

from perfbench.digest import from_row, spark_digest_exprs
from perfbench.proc import tree_cpu_s

WARMUP = -1  # operation index of the untimed first execution


def tag(spark, name: str) -> None:
    spark.sparkContext.setJobDescription(name)


def phase_tag(phase: str, i: int) -> str:
    return f"{phase}#{'warmup' if i == WARMUP else i}"


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def observed_write(df, columns) -> tuple[int, int, int]:
    """Noop write of ``df`` with its digest collected on the way."""
    from pyspark.sql import Observation

    obs = Observation()
    noop_write(df.observe(obs, *spark_digest_exprs(df, columns)))
    return from_row(obs.get)


class CommitResume:
    """Kill after half the bucket groups, then resume, into catalog tables."""

    name = "commit_resume"
    N_GROUPS = 2
    KILL_AFTER = 1
    DATA, LINEAGE = "perfbench_data", "perfbench_lineage"

    def __init__(self, spark, manifest: dict):
        self.spark = spark
        self.m = manifest
        self.src = spark.read.parquet(manifest["input"])

    def _drop(self) -> None:
        for t in (self.DATA, self.LINEAGE):
            self.spark.sql(f"DROP TABLE IF EXISTS {t}")

    def run(self, i: int) -> dict:
        from fineweb_legal_spark.lineage_table import (
            read_committed_table,
            run_with_lineage_table,
        )

        spark = self.spark
        tag(spark, phase_tag("cleanup", i))
        self._drop()
        tag(spark, phase_tag("kill", i))
        t0, c0 = time.perf_counter(), tree_cpu_s()
        killed = run_with_lineage_table(
            spark, self.src, self.DATA, self.LINEAGE,
            n_groups=self.N_GROUPS, max_groups=self.KILL_AFTER,
        )
        t1 = time.perf_counter()
        tag(spark, phase_tag("resume", i))
        resumed = run_with_lineage_table(
            spark, self.src, self.DATA, self.LINEAGE, n_groups=self.N_GROUPS
        )
        t2, c2 = time.perf_counter(), tree_cpu_s()
        tag(spark, phase_tag("verify", i))
        committed = read_committed_table(spark, self.DATA, self.LINEAGE)
        cols = self.m["digest_columns"]
        got = (0, 0, 0)
        if committed is not None:
            got = from_row(committed.agg(*spark_digest_exprs(committed, cols)).first().asDict())
        ok = (
            got == tuple(self.m["expected"])
            and 0 < killed["committed_now"] < resumed["committed_now"]
            and resumed["committed_before"] == killed["committed_now"]
            and resumed["groups_processed"] > 0
        )
        self.committed_after_kill = killed["committed_now"]
        tag(spark, phase_tag("cleanup", i))
        self._drop()
        return {"wall_s": t2 - t0, "cpu_s": c2 - c0, "kill_s": t1 - t0, "resume_s": t2 - t1, "ok": ok}

    # ---- traced run ------------------------------------------------------

    def heuristic_frames(self):
        """The pipeline's native prefix: conversation stats, and heuristic
        features joined to them with the reason column (pipeline.py's own
        composition inside run_pipeline)."""
        from pyspark.sql import functions as F

        from fineweb_legal_spark.pipeline import (
            conversation_stats,
            heuristic_features,
            heuristic_reason_col,
        )

        conv = conversation_stats(self.src)
        feats = heuristic_features(self.src.select("conv_id", "turn_idx", "text"))
        heur = feats.join(F.broadcast(conv), "conv_id").withColumn(
            "heur_reason", heuristic_reason_col()
        )
        return conv, heur

    def pending_rows(self, committed_buckets: int) -> int:
        """Rows the resume has to process: those outside the buckets the
        kill phase committed (recomputed from the lineage grouping)."""
        from pyspark.sql import functions as F

        from fineweb_legal_spark import spec
        from fineweb_legal_spark.lineage import bucket_of

        buckets = list(range(spec.LINEAGE_BUCKETS))
        groups = [buckets[g :: self.N_GROUPS] for g in range(self.N_GROUPS)]
        done = {b for g in groups[: self.KILL_AFTER] for b in g}
        if len(done) != committed_buckets:
            raise RuntimeError(f"kill committed {committed_buckets} buckets, expected {len(done)}")
        return self.src.filter(~bucket_of(F.col("conv_id")).isin(sorted(done))).count()


class OpsSuite:
    """One pass of the heavy ``__spark_entry__`` queries (inputs.OPS_QUERIES), each to a noop sink."""

    name = "ops_suite"

    def __init__(self, spark, manifest: dict):
        import __spark_entry__ as entry
        from fineweb_legal_spark.datasets import DATA_DIR

        if str(DATA_DIR) != manifest["data_dir"]:
            raise RuntimeError(f"datasets reads {DATA_DIR}, not the seeded {manifest['data_dir']}")
        self.spark = spark
        self.m = manifest
        qs = entry.queries()
        self.queries = list(manifest["expected"])
        self.dfs = {q: qs[q](spark, manifest["sf_dir"]) for q in self.queries}

    def run(self, i: int) -> dict:
        out: dict = {"wall_s": 0.0, "cpu_s": 0.0, "ok": True}
        for q in self.queries:
            tag(self.spark, phase_tag(f"ops.{q}", i))
            t0, c0 = time.perf_counter(), tree_cpu_s()
            got = observed_write(self.dfs[q], self.m["digest_columns"][q])
            el = time.perf_counter() - t0
            out[f"{q}_s"] = el
            out["wall_s"] += el
            out["cpu_s"] += tree_cpu_s() - c0
            if got != tuple(self.m["expected"][q]):
                out["ok"] = False
                out.setdefault("mismatch", []).append(q)
        return out


WORKLOADS = {w.name: w for w in (CommitResume, OpsSuite)}

"""Benchmark harness. Prints ONE JSON line:

{"metric": ..., "value": <total sec>, "unit": "sec",
 "queries": {name: sec, ...}, "queries_cold": {name: sec, ...},
 "sf": <float>, "pipeline": {rows, cold_sec, steady_sec, turns_per_sec},
 "codegen_compiles": <classes Janino compiled during the timed suite>,
 "conf": {master, spark.driver.memory, spark.sql.shuffle.partitions,
          spark.python.daemon.module (null: Spark's pyspark.daemon)}}

Ordering is survival-first (round-1 lesson: the driver's timeout killed the
run before any JSON appeared):

1. headline queries at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
2. the 2M-turn transcript-pipeline throughput (cold + steady min-of-N)
3. print the JSON line  <-- always happens, see below

Safety nets:
- SIGTERM/SIGINT (what `timeout` sends) triggers an immediate print of the
  JSON assembled so far (partial: true) before exit, so a timeout can no
  longer produce an empty BENCH record.
- BENCH_TIME_BUDGET seconds (default 1500) is self-enforced: remaining
  phases are skipped once the budget is hit.

Steady-state timing re-executes the SAME DataFrame: the first execution of
each fresh plan pays one-time Janino codegen (10-60 s in this sandbox),
which a long-running cluster job pays once per stage, not per partition.

Every number is measured on the host that runs it. The per-layer split of
a run (Python boundary, JVM, GC, shuffle, spill) is `perfbench/run.py
--trace 1`; the N-vs-4N rounds of the 32-core host stay in `data/` for
BENCH.md and are not folded in here.
"""

from __future__ import annotations

import json
import os
import re
import signal
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

HEADLINE = (
    "pipeline_verdicts",
    "web_filter_verdicts",
    "sum_avg_lineitem",
    "window_first_events",
    "dedup_exact_docs",
    "embedding_topk_cosine",
    "top_sources_docs",
)

# the expensive round-4 operator families (r4 verdict item 2): trended so
# a plan regression in any of them shows up as a wall-time jump instead
# of a timed-out correctness sweep. These are measured with a noop WRITE,
# not count(): their outputs are text-heavy and a count() lets Catalyst
# prune the very columns (and the windows/joins feeding them) whose cost
# we're trending.
HEADLINE_HEAVY = (
    "neardup_pairs",
    "text_analysis_docs",
    "repetition_signals_docs",
    "scrub_repeated_spans_docs",
    "transcript_repairs_t2",
)

# mutable result assembled as phases complete; the signal handler prints
# whatever is here if the process is killed mid-run
RESULT: dict = {
    "metric": "headline-suite wall-clock (sf tables + 2M-turn "
    "quality-filter pipeline; steady-state)",
    "value": 0.0,
    "unit": "sec",
    "queries": {},
    "sf": 0.0,
    "pipeline": {},
    "codegen_compiles": 0,
    "conf": {},
}
_PRINTED = False


def _compact(result: dict) -> dict:
    """Shrink the result to a guaranteed-small (<~1 KB) JSON payload.

    Round 2 lesson: the driver records only the TAIL of stdout, and a
    headline line embedding all raw scaling rounds outgrew that buffer
    (BENCH_r02.json: rc 0 but parsed null).  So the verbose payload goes
    out first on its own BENCH_DETAIL line and the LAST line is this
    compact summary: headline secs, per-query timings, pipeline
    steady-state — no steady_all.
    """
    out = {k: v for k, v in result.items() if k != "pipeline"}
    pipe = dict(result.get("pipeline") or {})
    pipe.pop("steady_all", None)
    out["pipeline"] = pipe
    return out


def _emit(partial: bool = False) -> None:
    global _PRINTED
    if _PRINTED:
        return
    _PRINTED = True
    if partial:
        RESULT["partial"] = True
    print("BENCH_DETAIL " + json.dumps(RESULT), flush=True)
    print(json.dumps(_compact(RESULT)), flush=True)


def _on_signal(signum, frame):  # noqa: ARG001
    _emit(partial=True)
    os._exit(0)


class _Budget:
    def __init__(self, seconds: float) -> None:
        self.t0 = time.time()
        self.seconds = seconds

    def exceeded(self) -> bool:
        return time.time() - self.t0 > self.seconds


def scale_factor(sf_dir: str) -> float:
    """The scale factor an ``.../sf<float>`` data directory names; 0.0 when
    the last path component is not of that form (``/srv/sfdata``,
    ``/data/sf0.1_copy``), so an odd path never stops the run before its
    JSON line is printed."""
    m = re.fullmatch(r"sf(\d+(?:\.\d*)?|\.\d+)", Path(sf_dir).name)
    return float(m.group(1)) if m else 0.0


CONF_KEYS = (
    "spark.driver.memory",
    "spark.sql.shuffle.partitions",
    "spark.python.daemon.module",
)


def session_conf(spark) -> dict:
    """The conf the session chose: its master and ``CONF_KEYS``, None
    where a key is unset (an unset daemon module is Spark's
    ``pyspark.daemon``)."""
    return {
        "master": spark.sparkContext.master,
        **{k: spark.conf.get(k, None) for k in CONF_KEYS},
    }


def _count(df) -> int:
    return df.count()


def _pipeline_bench(spark, budget: _Budget | None = None) -> dict:
    from fineweb_legal_spark.datasets import ensure_transcripts
    from fineweb_legal_spark.pipeline import run_pipeline

    src = spark.read.parquet(str(ensure_transcripts("bench")))
    verdicts = run_pipeline(spark, src)
    cached = getattr(verdicts, "_fineweb_persisted", [])

    # noop sink: materializes EVERY column. A bare count() lets Catalyst
    # prune the dedup window + its exchange out of the physical plan
    # (row_number changes no cardinality and count reads no columns), so it
    # under-measures the pipeline; the noop write runs the full plan.
    #
    # slim_dedup persists the scored intermediate so its two consumers share
    # one model-UDF execution; each timed rep must pay that materialization,
    # so the cache is dropped AFTER the rep (outside the timer) and
    # re-marked before the next one — same DataFrame objects, so codegen
    # stays warm across reps.
    def run_once():
        from pyspark.storagelevel import StorageLevel

        for df in cached:
            df.persist(StorageLevel.MEMORY_AND_DISK)
        verdicts.write.format("noop").mode("overwrite").save()

    def drop_caches():
        for df in cached:
            df.unpersist(blocking=True)

    rows = src.count()
    t0 = time.time()
    run_once()
    cold = time.time() - t0
    drop_caches()
    # min-of-N steady-state: this sandbox is a Firecracker/KVM microVM with
    # invisible noisy-neighbor host contention (observed 4x run-to-run
    # swings); min-of-N is the standard de-noising for such hosts
    steadies = []
    for _ in range(int(os.environ.get("BENCH_REPS", "3"))):
        if budget is not None and budget.exceeded() and steadies:
            break
        t0 = time.time()
        run_once()
        steadies.append(time.time() - t0)
        drop_caches()
    steady = min(steadies) if steadies else cold
    return {
        "rows": rows,
        "cold_sec": round(cold, 2),
        "steady_sec": round(steady, 2),
        "steady_all": [round(s, 2) for s in steadies],
        "turns_per_sec": round(rows / steady, 1),
    }


def main() -> None:
    signal.signal(signal.SIGTERM, _on_signal)
    signal.signal(signal.SIGINT, _on_signal)
    budget = _Budget(float(os.environ.get("BENCH_TIME_BUDGET", "1500")))

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    RESULT["sf"] = scale_factor(sf_dir)

    # generate bench data up front (one-time, cached on disk)
    from fineweb_legal_spark.datasets import ensure_transcripts

    ensure_transcripts("bench")

    from fineweb_legal_spark.session import codegen_compiles, get_spark

    spark = get_spark(app_name="bench")
    RESULT["conf"] = session_conf(spark)
    compiles_at_start = codegen_compiles(spark)

    def count_compiles() -> None:
        RESULT["codegen_compiles"] = codegen_compiles(spark) - compiles_at_start

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    total = 0.0
    for name in HEADLINE:
        if budget.exceeded():
            RESULT["queries"][name] = None
            continue
        # headline numbers are STEADY-STATE (second execution of the same
        # plan): the first run pays one-time Janino codegen + session-cache
        # builds, which a cluster job amortizes — trending the cold number
        # round-over-round tracked codegen noise, not plan quality
        # (round-3 verdict). Cold wall-clock is kept in queries_cold.
        # both timings execute the SAME DataFrame so neither includes
        # plan construction (a re-built frame would fold Catalyst
        # analysis — and any builder-side eager job — into steady only)
        fn = qs.get(name) or getattr(entrymod, f"q_{name}")
        df = fn(spark, sf_dir)
        t0 = time.time()
        _count(df)
        RESULT.setdefault("queries_cold", {})[name] = round(
            time.time() - t0, 2
        )
        t0 = time.time()
        _count(df)
        el = time.time() - t0
        RESULT["queries"][name] = round(el, 2)
        total += el
        RESULT["value"] = round(total, 2)
        count_compiles()

    for name in HEADLINE_HEAVY:
        if budget.exceeded():
            RESULT["queries"][name] = None
            continue
        fn = qs.get(name) or getattr(entrymod, f"q_{name}")
        df = fn(spark, sf_dir)

        def run_heavy():
            df.write.format("noop").mode("overwrite").save()

        t0 = time.time()
        run_heavy()
        RESULT.setdefault("queries_cold", {})[name] = round(
            time.time() - t0, 2
        )
        t0 = time.time()
        run_heavy()
        el = time.time() - t0
        RESULT["queries"][name] = round(el, 2)
        total += el
        RESULT["value"] = round(total, 2)
        count_compiles()

    if not budget.exceeded():
        pipeline = _pipeline_bench(spark, budget)
        RESULT["pipeline"] = pipeline
        total += pipeline["steady_sec"]
        RESULT["value"] = round(total, 2)
        count_compiles()

    _emit()
    spark.stop()


if __name__ == "__main__":
    main()

"""Benchmark harness. Prints ONE JSON line:

{"metric": ..., "value": <total sec>, "unit": "sec",
 "queries": {name: sec, ...}, "sf": <float>,
 "pipeline": {rows, cold_sec, steady_sec, turns_per_sec},
 "scaling": {"local[8]": {...}, "local[32]": {...}, "efficiency": e},
 "codegen_compiles": <classes Janino compiled during the timed suite>}

Ordering is survival-first (round-1 lesson: the driver's timeout killed the
run before any JSON appeared):

1. headline queries at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
2. the 2M-turn transcript-pipeline throughput (cold + steady min-of-N)
3. print the JSON line  <-- always happens, see below
4. scaling study ONLY if BENCH_RUN_SCALING=1 (it spawns two child Spark
   processes and costs ~15-30 min; results are cached to
   data/scaling_cache.json and folded into step 3's JSON on later runs,
   marked "cached": true)

Safety nets:
- SIGTERM/SIGINT (what `timeout` sends) triggers an immediate print of the
  JSON assembled so far (partial: true) before exit, so a timeout can no
  longer produce an empty BENCH record.
- BENCH_TIME_BUDGET seconds (default 1500) is self-enforced via SIGALRM:
  remaining phases are skipped once the budget is hit.

Steady-state timing re-executes the SAME DataFrame: the first execution of
each fresh plan pays one-time Janino codegen (10-60 s in this sandbox),
which a long-running cluster job pays once per stage, not per partition.

Scaling evidence (BASELINE.json north_rule, N vs 4N executors) is the same
pipeline job on identical input at local[8] vs local[32], each child
taskset-pinned to exactly N cores; efficiency = (thr_32 / thr_8) / (32 / 8).
Full methodology + numbers: BENCH.md.
"""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

SCALING_CACHE = REPO / "data" / "scaling_cache.json"
LINEARITY_CACHE = REPO / "data" / "linearity_cache.json"
STANDALONE_CACHE = REPO / "data" / "standalone_cache.json"

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
    "scaling": {},
    "codegen_compiles": 0,
}
_PRINTED = False


def _compact(result: dict) -> dict:
    """Shrink the result to a guaranteed-small (<~1 KB) JSON payload.

    Round 2 lesson: the driver records only the TAIL of stdout, and a
    headline line embedding all raw scaling rounds outgrew that buffer
    (BENCH_r02.json: rc 0 but parsed null).  So the verbose payload goes
    out first on its own BENCH_DETAIL line and the LAST line is this
    compact summary: headline secs, per-query timings, pipeline
    steady-state, scaling efficiency — no rounds array, no steady_all.
    """
    out = {k: v for k, v in result.items() if k not in ("pipeline", "scaling")}
    pipe = dict(result.get("pipeline") or {})
    pipe.pop("steady_all", None)
    out["pipeline"] = pipe
    sc = result.get("scaling") or {}
    comp: dict = {}
    for k in ("local[8]", "local[32]"):
        if isinstance(sc.get(k), dict):
            comp[k] = {
                kk: sc[k][kk]
                for kk in ("rows", "steady_sec", "turns_per_sec", "cpus")
                if kk in sc[k]
            }
    for k in ("efficiency", "same_window", "measured_at", "cached"):
        if k in sc:
            comp[k] = sc[k]
    out["scaling"] = comp
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

    def remaining(self) -> float:
        return self.seconds - (time.time() - self.t0)


def _count(df) -> int:
    return df.count()


def _pipeline_bench(spark, budget: _Budget | None = None, tier: str = "bench") -> dict:
    from fineweb_legal_spark.datasets import ensure_transcripts
    from fineweb_legal_spark.pipeline import run_pipeline

    src = spark.read.parquet(str(ensure_transcripts(tier)))
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


def scaling_child(cpus: int, tier: str = "bench") -> None:
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.setdefault("BENCH_REPS", "3")
    from fineweb_legal_spark.session import get_spark

    spark = get_spark(master=f"local[{cpus}]", app_name=f"bench_scaling_{cpus}")
    out = _pipeline_bench(spark, tier=tier)
    out["tier"] = tier
    print("SCALING_RESULT " + json.dumps(out), flush=True)
    spark.stop()


def _run_scaling() -> dict:
    """N vs 4N scaling stand-in (BASELINE.md): each child is PINNED to
    exactly N physical cores with taskset, otherwise the local[8] run's
    Python UDF workers would still spread over all 32 cores and inflate the
    small-cluster baseline. Results are cached for later bench runs."""
    results = {}
    for cpus in (8, 32):
        cmd = [sys.executable, __file__, "--scaling-child", str(cpus)]
        import shutil as _sh

        if _sh.which("taskset"):
            cmd = ["taskset", "-c", f"0-{cpus - 1}", *cmd]
        proc = subprocess.run(
            cmd,
            capture_output=True,
            text=True,
            timeout=2700,
            cwd=str(REPO),
        )
        for line in proc.stdout.splitlines():
            if line.startswith("SCALING_RESULT "):
                results[f"local[{cpus}]"] = json.loads(line.split(" ", 1)[1])
                break
        else:
            results[f"local[{cpus}]"] = {"error": proc.stderr[-500:]}
    try:
        t8 = results["local[8]"]["turns_per_sec"]
        t32 = results["local[32]"]["turns_per_sec"]
        results["efficiency"] = round((t32 / t8) / (32 / 8), 3)
    except (KeyError, ZeroDivisionError, TypeError):
        results["efficiency"] = None
    results["measured_at"] = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
    try:
        SCALING_CACHE.parent.mkdir(parents=True, exist_ok=True)
        SCALING_CACHE.write_text(json.dumps(results, indent=1))
    except OSError:
        pass
    return results


def _same_window_stats(rounds: list) -> dict:
    """Efficiency per adjacent (8, 32) round pair. The headline
    `efficiency` pairs the best round per width ACROSS windows — a
    conservative floor, since a fast-host-window 8-core round is divided
    into a different window's 32-core round, measuring host drift on top
    of plan scaling. Same-window pairs remove the drift term; report
    best/median/n>=0.8 so both views are in the artifact."""
    pairs = []
    i = 0
    while i + 1 < len(rounds):
        a, b = rounds[i], rounds[i + 1]
        if a.get("cpus") == 8 and b.get("cpus") == 32:
            pairs.append(
                round((b["turns_per_sec"] / a["turns_per_sec"]) / 4, 3)
            )
            i += 2
        else:
            i += 1
    if not pairs:
        return {}
    mid = sorted(pairs)
    return {
        "pairs": len(pairs),
        "best": max(pairs),
        "median": round(mid[len(mid) // 2], 3),
        "n_ge_0.8": sum(1 for p in pairs if p >= 0.8),
    }


def _cached_linearity() -> dict:
    """Data-size axis (tools/linearity_round.py): same plan, same 32
    cores, 2M vs 10M turns; ratio ~1.0 = no super-linear stage."""
    if LINEARITY_CACHE.exists():
        try:
            c = json.loads(LINEARITY_CACHE.read_text())
            out = {"ratio_10M_vs_2M": c.get("linearity_ratio")}
            for tier in ("bench", "bench10"):
                if isinstance(c.get(tier), dict):
                    out[tier] = {
                        k: c[tier][k]
                        for k in ("rows", "steady_sec", "turns_per_sec")
                        if k in c[tier]
                    }
            return out
        except (OSError, json.JSONDecodeError):
            pass
    return {}


def _cached_standalone() -> dict:
    """Real-cluster axis (tools/standalone_round.py): the same pipeline
    submitted via spark-submit --py-files to a genuine standalone cluster
    (separate master/worker/executor JVMs) at 2 executors vs 8 executors
    — the north rule's N-vs-4N-executor criterion on its actual launch
    surface rather than the local[N] stand-in."""
    if STANDALONE_CACHE.exists():
        try:
            c = json.loads(STANDALONE_CACHE.read_text())
            out = {"cached": True, "efficiency": c.get("efficiency")}
            for k in (
                "efficiency_basis",
                "efficiency_best_per_size",
                "efficiency_median_throughput",
            ):
                if c.get(k) is not None:
                    out[k] = c[k]
            if c.get("same_window"):
                out["same_window"] = c["same_window"]
            for size in ("N", "2N", "4N"):
                if isinstance(c.get(size), dict):
                    out[size] = {
                        k: c[size][k]
                        for k in (
                            "rows", "steady_sec", "turns_per_sec",
                            "cores", "executors", "workers",
                        )
                        if k in c[size]
                    }
            return out
        except (OSError, json.JSONDecodeError):
            pass
    return {}


def _cached_scaling() -> dict:
    if SCALING_CACHE.exists():
        try:
            out = json.loads(SCALING_CACHE.read_text())
            out["cached"] = True
            sw = _same_window_stats(out.get("rounds") or [])
            if sw:
                out["same_window"] = sw
            return out
        except (OSError, json.JSONDecodeError):
            pass
    return {}


def main() -> None:
    if len(sys.argv) >= 3 and sys.argv[1] == "--scaling-child":
        tier = sys.argv[3] if len(sys.argv) >= 4 else "bench"
        scaling_child(int(sys.argv[2]), tier=tier)
        return
    if len(sys.argv) >= 2 and sys.argv[1] == "--scaling-only":
        from fineweb_legal_spark.datasets import ensure_transcripts

        ensure_transcripts("bench")
        print(json.dumps({"scaling": _run_scaling()}), flush=True)
        return

    signal.signal(signal.SIGTERM, _on_signal)
    signal.signal(signal.SIGINT, _on_signal)
    budget = _Budget(float(os.environ.get("BENCH_TIME_BUDGET", "1500")))

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    RESULT["sf"] = (
        float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else 0.0
    )
    run_scaling = os.environ.get("BENCH_RUN_SCALING") == "1"
    RESULT["scaling"] = _cached_scaling()
    lin = _cached_linearity()
    if lin:
        RESULT["linearity"] = lin
    sa = _cached_standalone()
    if sa:
        RESULT["scaling_standalone"] = sa

    # generate bench data up front (one-time, cached on disk)
    from fineweb_legal_spark.datasets import ensure_transcripts

    ensure_transcripts("bench")

    from fineweb_legal_spark.session import codegen_compiles, get_spark

    spark = get_spark(app_name="bench")
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

    if run_scaling and budget.remaining() > 600:
        spark.stop()
        RESULT["scaling"] = _run_scaling()
        _emit()
        return

    _emit()
    spark.stop()


if __name__ == "__main__":
    main()

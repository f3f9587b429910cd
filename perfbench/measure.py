"""The timed process: one Spark session, an untimed warm-up, timed operations.

    python3 perfbench/measure.py <workload> <seed> <seconds> <trace 0|1> \\
        <manifest.json> <work_dir> <out.json>

Started by ``run.py`` with the pinned environment. Writes one JSON record
to ``out.json``: each operation's wall and CPU time and check, set-up
times, peak RSS and the committed heap and, when traced, the traced
operations, the probe results and the path of the event log.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
import traceback
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from perfbench.proc import RssSampler, process_start, tree_cpu_s  # noqa: E402
from perfbench.workloads import WARMUP, WORKLOADS, noop_write, phase_tag, tag  # noqa: E402

KERNEL_REPS = 5


def spark_conf(work: Path, trace: bool, run_id: str) -> dict:
    conf = {"spark.sql.warehouse.dir": str(work / "warehouse" / run_id)}
    if trace:
        events = work / "events" / run_id
        events.mkdir(parents=True, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": events.as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def time_kernels(sample_path: str) -> dict:
    """Per-turn single-thread time of the model-stage kernels, run in this process."""
    from fineweb_legal_spark.artifacts import get_artifacts
    from fineweb_legal_spark.scrub import scrub_text
    from fineweb_legal_spark.textstats import norm_hash

    texts = json.loads(Path(sample_path).read_text())
    arts = get_artifacts()
    kernels = {
        "langid": lambda: arts.predict_lang_batch(texts),
        "ppl": lambda: arts.perplexity_batch(texts),
        "scrub": lambda: [scrub_text(t) for t in texts],
        "norm_hash": lambda: [norm_hash(t) for t in texts],
    }
    out = {}
    for name, fn in kernels.items():
        fn()
        reps = []
        for _ in range(KERNEL_REPS):
            t0 = time.perf_counter()
            fn()
            reps.append(time.perf_counter() - t0)
        out[f"kernel.{name}_us"] = statistics.median(reps) / len(texts) * 1e6
    return out


def timed_noops(spark, df, name: str, reps: int = 2) -> list[float]:
    """Warm once, then time ``reps`` noop writes of ``df``."""
    tag(spark, phase_tag(name, WARMUP))
    noop_write(df)
    out = []
    for i in range(reps):
        tag(spark, phase_tag(name, i))
        t0 = time.perf_counter()
        noop_write(df)
        out.append(time.perf_counter() - t0)
    return out


def commit_probes(spark, wl, rec: dict) -> None:
    """Prefix jobs of the pipeline layers the commit path runs through."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from fineweb_legal_spark.pipeline import run_pipeline

    conv, heur = wl.heuristic_frames()
    rec["heuristics_s"] = timed_noops(spark, heur, "probe.heuristics")
    rec["conv_stats_s"] = timed_noops(spark, conv, "probe.conv_stats")
    obs = Observation()
    tag(spark, "probe.pass_ratio")
    noop_write(heur.observe(obs, F.count(F.lit(1)).alias("n"),
                            F.count(F.when(F.col("heur_reason").isNull(), 1)).alias("pass")))
    got = obs.get
    rec["heuristics_pass_ratio"] = got["pass"] / got["n"]
    # the dedup verdicts of one uninterrupted run (kill + resume converge
    # to it): the dedup layer's duplicate count
    obs = Observation()
    tag(spark, "probe.dedup")
    v = run_pipeline(spark, wl.src, slim_dedup=False)
    noop_write(v.observe(obs, F.count(F.when(F.col("reject_reason") == "duplicate", 1)).alias("dup")))
    rec["duplicate_rows"] = obs.get["dup"]
    tag(spark, "probe.pending")
    rec["pending_rows"] = wl.pending_rows(wl.committed_after_kill)


def checked(wl, i: int) -> dict:
    """One operation; an exception counts as a failed operation."""
    t0, c0 = time.perf_counter(), tree_cpu_s()
    try:
        op = wl.run(i)
    except Exception:  # noqa: BLE001 — recorded, and the run goes on
        traceback.print_exc()
        op = {"wall_s": time.perf_counter() - t0, "cpu_s": tree_cpu_s() - c0, "ok": False,
              "error": traceback.format_exc(limit=3)}
    op["i"] = i
    return op


class EventLogSwitch:
    """Detaches and re-attaches the session's event-log listener, so that
    one process runs the same operation untraced and traced."""

    def __init__(self, spark):
        self.sc = spark.sparkContext._jsc.sc()
        self.listener = self.sc.eventLogger().get()
        self.on = True

    def set(self, on: bool) -> None:
        if on != self.on:
            (self.sc.addSparkListener if on else self.sc.removeSparkListener)(self.listener)
            self.on = on


def heap_committed_mb(spark) -> float:
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return mx.getHeapMemoryUsage().getCommitted() / 2**20


def main(argv: list[str]) -> int:
    started = process_start()
    workload, seed, seconds, trace = argv[0], int(argv[1]), float(argv[2]), argv[3] == "1"
    manifest = json.loads(Path(argv[4]).read_text())
    work, out_path = Path(argv[5]), Path(argv[6])
    run_id = f"{workload}-{seed}-{'trace' if trace else 'plain'}-{os.getpid()}"
    if "data_dir" in manifest:
        # the seeded t1/t2 tiers; datasets reads it once, at import
        os.environ["FINEWEB_SPARK_DATA"] = manifest["data_dir"]

    rss = RssSampler()
    rss.start()
    rec: dict = {"workload": workload, "seed": seed, "trace": trace, "ops": [], "traced_ops": []}
    from fineweb_legal_spark.session import get_spark

    t0 = time.time()
    spark = get_spark(app_name=f"perfbench-{workload}", extra_conf=spark_conf(work, trace, run_id))
    rec["session_start_s"] = time.time() - t0
    rec["app_id"] = spark.sparkContext.applicationId
    try:
        log = EventLogSwitch(spark) if trace else None

        def op(i: int, traced: bool) -> dict:
            if log:
                log.set(traced)
            return checked(wl, i)

        t0 = time.time()
        wl = WORKLOADS[workload](spark, manifest)
        rec["warmup"] = op(WARMUP, False)
        rec["session_warmup_s"] = time.time() - t0
        rec["setup_s"] = time.time() - started
        rec["setup_cpu_s"] = tree_cpu_s()
        # untraced operations until the time is up; the traced run puts a
        # traced operation between each two untraced ones
        deadline = time.perf_counter() + seconds
        i = 0
        while True:
            rec["ops"].append(op(i, False))
            if trace:
                rec["traced_ops"].append(op(i + 1, True))
            i = len(rec["ops"]) + len(rec["traced_ops"])
            if time.perf_counter() >= deadline:
                break
        if trace:
            rec["ops"].append(op(i, False))
            log.set(False)
            rec["kernels"] = time_kernels(manifest["kernel_sample"])
            if workload == "commit_resume":
                commit_probes(spark, wl, rec)
        rec["heap_committed_mb"] = heap_committed_mb(spark)
    finally:
        rec["peak_rss_mb"] = rss.stop() / 2**20
        spark.stop()
    if trace:
        rec["event_log"] = str(work / "events" / run_id / rec["app_id"])
    out_path.write_text(json.dumps(rec))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))

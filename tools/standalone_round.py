"""Run the pipeline bench on a REAL Spark standalone cluster at two
cluster sizes — the north rule's launch surface, not a local[N] stand-in.

Topology per size (everything on one 32-vCPU host, JVMs fully separate):

- size "N"  : 1 worker,  8 cores, taskset-pinned to cores 0-7
              → spark.cores.max=8,  --executor-cores 4 → 2 executors
- size "2N" : 2 workers (opt-in via --sizes, the executor-count-curve
              midpoint) → spark.cores.max=16 → 4 executors
- size "4N" : 4 workers, 8 cores each, pinned to 0-7 / 8-15 / 16-23 / 24-31
              → spark.cores.max=32, --executor-cores 4 → 8 executors

Executors are forked by their worker and inherit its CPU affinity mask
(as do the Python UDF workers forked by the executors), so the small
cluster genuinely cannot borrow idle cores. Each size gets a FRESH master+workers; the
job is submitted with ``spark-submit --py-files dist/fineweb_legal_spark.zip``
(jobs/run_bench_standalone.py), exercising the real deployment path:
archive shipping, closure pickling, broadcast over netty, executor-to-
executor shuffle service.

Results append to ``data/standalone_cache.json`` (best round per size plus
the full rounds ledger). Its rounds were measured on a 32-vCPU host and
BENCH.md cites them.

Usage: python tools/standalone_round.py [--reps 3] [--sizes N,2N,4N]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import urllib.request
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
CACHE = REPO / "data" / "standalone_cache.json"
MASTER_PORT = 7077
MASTER_UI = 8080
MASTER_URL = f"spark://127.0.0.1:{MASTER_PORT}"

SIZES = {
    # name -> (worker core blocks, spark.cores.max)
    "N": (["0-7"], 8),
    "2N": (["0-7", "8-15"], 16),  # midpoint: opt-in via --sizes
    "4N": (["0-7", "8-15", "16-23", "24-31"], 32),
}
DEFAULT_SIZES = ("N", "4N")


def _spark_home() -> Path:
    # honor a full distribution if the environment provides one (jars,
    # sbin, conf); the pip pyspark layout is the fallback — either way the
    # SAME home serves spark-class, spark-submit, and the worker JVMs
    env_home = os.environ.get("SPARK_HOME")
    if env_home and (Path(env_home) / "bin" / "spark-submit").exists():
        return Path(env_home)
    import pyspark

    return Path(pyspark.__file__).resolve().parent


def _spawn(cmd: list[str], log: Path, env: dict) -> subprocess.Popen:
    log.parent.mkdir(parents=True, exist_ok=True)
    f = open(log, "ab")
    return subprocess.Popen(
        cmd, stdout=f, stderr=subprocess.STDOUT, env=env, cwd=str(REPO),
        start_new_session=True,
    )


def _wait_workers(n: int, timeout: float = 90.0) -> None:
    deadline = time.time() + timeout
    while time.time() < deadline:
        try:
            with urllib.request.urlopen(
                f"http://127.0.0.1:{MASTER_UI}/json/", timeout=5
            ) as r:
                st = json.loads(r.read())
            alive = [w for w in st.get("workers", []) if w.get("state") == "ALIVE"]
            if len(alive) >= n:
                return
        except Exception:
            pass
        time.sleep(2)
    raise TimeoutError(f"{n} workers not ALIVE within {timeout}s")


def _start_cluster(blocks: list[str], logdir: Path) -> list[subprocess.Popen]:
    sh = _spark_home()
    spark_class = str(sh / "bin" / "spark-class")
    env = dict(os.environ)
    env["SPARK_HOME"] = str(sh)
    env.setdefault("SPARK_NO_DAEMONIZE", "1")
    # executors are forked by the worker: pin their Python to this exact
    # interpreter (a bare `python3` from the worker's PATH may differ)
    env["PYSPARK_PYTHON"] = sys.executable
    procs = [
        _spawn(
            [
                spark_class, "org.apache.spark.deploy.master.Master",
                "--host", "127.0.0.1", "--port", str(MASTER_PORT),
                "--webui-port", str(MASTER_UI),
            ],
            logdir / "master.log", env,
        )
    ]
    for i, block in enumerate(blocks):
        cmd = [
            spark_class, "org.apache.spark.deploy.worker.Worker", MASTER_URL,
            "--cores", "8", "--memory", "20g",
            "--webui-port", str(8180 + i), "--port", str(7178 + i),
        ]
        if shutil.which("taskset"):
            cmd = ["taskset", "-c", block, *cmd]
        wenv = dict(env)
        wenv["SPARK_WORKER_DIR"] = str(logdir / f"worker{i}")
        procs.append(_spawn(cmd, logdir / f"worker{i}.log", wenv))
    _wait_workers(len(blocks))
    return procs


def _stop_cluster(procs: list[subprocess.Popen]) -> None:
    for p in reversed(procs):
        try:
            os.killpg(p.pid, signal.SIGTERM)
        except (ProcessLookupError, PermissionError):
            pass
    deadline = time.time() + 20
    for p in procs:
        try:
            p.wait(timeout=max(0.1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except (ProcessLookupError, PermissionError):
                pass


def _submit(
    cores_max: int,
    input_dir: Path,
    reps: int,
    logdir: Path,
    extra_conf: list[str] | None = None,
) -> dict | None:
    sh = _spark_home()
    cmd = [
        str(sh / "bin" / "spark-submit"),
        "--master", MASTER_URL,
        "--deploy-mode", "client",
        "--py-files", str(REPO / "dist" / "fineweb_legal_spark.zip"),
        "--driver-memory", "8g",
        "--executor-cores", "4",
        "--executor-memory", "6g",
        "--conf", f"spark.cores.max={cores_max}",
        # same heap discipline as session.py: pinned + pre-touched so heap
        # growth never hits this microVM's EPT-fault/TLB-shootdown storm
        "--conf", "spark.executor.extraJavaOptions=-Xms6g -XX:+AlwaysPreTouch",
        "--conf", "spark.driver.extraJavaOptions=-Xms8g -XX:+AlwaysPreTouch",
        "--conf", "spark.executorEnv.MALLOC_TRIM_THRESHOLD_=-1",
        "--conf", "spark.executorEnv.MALLOC_MMAP_THRESHOLD_=268435456",
        "--conf", "spark.ui.enabled=false",
        *[x for c in (extra_conf or []) for x in ("--conf", c)],
        str(REPO / "jobs" / "run_bench_standalone.py"),
        "--input", str(input_dir),
        "--reps", str(reps),
    ]
    env = dict(os.environ)
    env["SPARK_HOME"] = str(sh)
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    try:
        proc = subprocess.run(
            cmd, capture_output=True, text=True, timeout=2700, cwd=str(REPO), env=env
        )
    except subprocess.TimeoutExpired:
        print(f"submit cores.max={cores_max} timed out", file=sys.stderr)
        return None
    (logdir / f"submit_{cores_max}.log").write_text(
        proc.stdout[-20000:] + "\n--- stderr ---\n" + proc.stderr[-20000:]
    )
    for line in proc.stdout.splitlines():
        if line.startswith("STANDALONE_RESULT "):
            return json.loads(line.split(" ", 1)[1])
    print(
        f"submit cores.max={cores_max} failed: {proc.stderr[-600:]}",
        file=sys.stderr,
    )
    return None


def fold(rounds: list[dict]) -> dict:
    """Best round per size + N→4N efficiency — the cache headline.

    Pure so the math is unit-testable without a cluster. Best per size
    is the de-noising protocol for a host with noisy neighbours; the
    same_window view (efficiency within each adjacent N→4N pair) cancels
    host drift between the two halves."""
    best: dict[str, dict] = {}
    for r in rounds:
        k = r["size"]
        if k not in best or r["turns_per_sec"] > best[k]["turns_per_sec"]:
            best[k] = r
    out: dict = dict(best)
    try:
        out["efficiency_best_per_size"] = round(
            (best["4N"]["turns_per_sec"] / best["N"]["turns_per_sec"]) / 4, 3
        )
    except (KeyError, ZeroDivisionError):
        out["efficiency_best_per_size"] = None
    pairs = []
    i = 0
    while i + 1 < len(rounds):
        a = rounds[i]
        # a 2N midpoint between N and 4N doesn't break the pair
        j = i + 1
        while j < len(rounds) and rounds[j]["size"] == "2N":
            j += 1
        if j < len(rounds) and a["size"] == "N" and rounds[j]["size"] == "4N":
            pairs.append(
                round((rounds[j]["turns_per_sec"] / a["turns_per_sec"]) / 4, 3)
            )
            i = j + 1
        else:
            i += 1
    if pairs:
        mid = sorted(pairs)
        out["same_window"] = {
            "pairs": len(pairs),
            "best": max(pairs),
            "median": mid[len(mid) // 2],
            "n_ge_0.8": sum(1 for p in pairs if p >= 0.8),
        }
    # ratio-of-medians: median(4N turns/s) / median(N turns/s) / 4.  The
    # two legs see host noise ASYMMETRICALLY — the pinned 8-core N leg is
    # insulated from most contention (measured CoV ~3% across the round-5
    # ledger) while the all-32-core 4N leg absorbs every host event (CoV
    # ~25%, left-tailed) — so the median-of-pair-ratios headline is
    # biased DOWNWARD: a noise hit can only shrink a pair, never grow
    # it.  Taking the median of each leg's throughput distribution first
    # discards the 4N left tail instead of letting single bad windows
    # each poison one pair; it is the robust aggregate of the same data,
    # reported alongside (not instead of) the conservative pair median.
    med = {}
    for size in ("N", "4N"):
        xs = sorted(
            r["turns_per_sec"] for r in rounds if r["size"] == size
        )
        if xs:
            med[size] = xs[len(xs) // 2]
    if "N" in med and "4N" in med and med["N"]:
        out["efficiency_median_throughput"] = round(
            (med["4N"] / med["N"]) / 4, 3
        )
    # HEADLINE = same-window median once enough pairs exist. Cross-window
    # best-per-size divides numbers from different host conditions; with
    # the ~10-round standalone ledger that is noise-dominated (a single
    # quiet-window N catch moved it 0.907 -> 0.56 while every same-window
    # pair stayed where it was). The local cache survives best-per-width
    # only because ~70 rounds per width let BOTH legs sample quiet
    # windows; same-window pairs measure both halves under the same host
    # and need no such balancing.
    if pairs and len(pairs) >= 3:
        out["efficiency"] = out["same_window"]["median"]
        out["efficiency_basis"] = "same_window_median"
    else:
        out["efficiency"] = out.get("efficiency_best_per_size")
        out["efficiency_basis"] = "best_per_size"
    out["rounds"] = rounds
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument(
        "--event-log",
        default=None,
        metavar="DIR",
        help="write the Spark event log (JSON lines) into DIR; "
        "perfbench/eventlog.py reads that format",
    )
    ap.add_argument(
        "--sizes",
        default=",".join(DEFAULT_SIZES),
        help="comma list from N,2N,4N; 2N gives the midpoint of the "
        "executor-count curve (4 executors x 4 cores on 2 workers)",
    )
    args = ap.parse_args()
    sizes = [x.strip() for x in args.sizes.split(",") if x.strip()]
    unknown = [x for x in sizes if x not in SIZES]
    if unknown:
        ap.error(f"unknown sizes {unknown}; choose from {list(SIZES)}")

    sys.path.insert(0, str(REPO))
    from fineweb_legal_spark.datasets import ensure_transcripts
    from tools.build_pyfiles import build

    build(REPO / "dist" / "fineweb_legal_spark.zip")
    input_dir = ensure_transcripts("bench")  # driver-side, before any cluster
    logdir = REPO / "data" / "standalone_logs"

    cache = json.loads(CACHE.read_text()) if CACHE.exists() else {}
    rounds = cache.get("rounds", [])
    extra_conf = None
    if args.event_log:
        ev = Path(args.event_log)
        ev.mkdir(parents=True, exist_ok=True)
        extra_conf = [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir={ev}",
        ]
    for name in sizes:
        blocks, cores_max = SIZES[name]
        procs = _start_cluster(blocks, logdir)
        try:
            r = _submit(cores_max, input_dir, args.reps, logdir, extra_conf)
        finally:
            _stop_cluster(procs)
        if r:
            r["size"] = name
            r["workers"] = len(blocks)
            rounds.append(r)
            print(f"{name}: {json.dumps(r)}", flush=True)
        time.sleep(3)  # let ports free before the next size's master

    out = fold(rounds)
    out["protocol"] = (
        "REAL standalone cluster per size (separate master/worker/executor "
        "JVMs, netty shuffle): N = 1 pinned 8-core worker -> 2 executors x "
        "4 cores; 4N = 4 pinned 8-core workers -> 8 executors x 4 cores; "
        "spark-submit --py-files; steady=min of reps noop-sink "
        "re-executions; headline efficiency = same-window median (both "
        "halves of a pair share one host window); best-per-size kept as "
        "the secondary view (cross-window, needs balanced quiet-window "
        "sampling to mean anything)"
    )
    out["measured_at"] = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
    CACHE.parent.mkdir(parents=True, exist_ok=True)
    CACHE.write_text(json.dumps(out, indent=1))
    print(json.dumps({k: v for k, v in out.items() if k != "rounds"}))


if __name__ == "__main__":
    main()

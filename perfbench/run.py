"""Benchmark entry point (see BENCHMARK.json).

    python3 perfbench/run.py --workload <commit_resume|ops_suite> \\
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Three steps, each its own process:

1. ``inputs.py`` builds the seeded input and its oracle digest (cached
   per (workload, seed) under ``.perfbench/``; never timed).
2. ``measure.py`` starts one Spark session on ``local[<nproc>]`` with the
   pinned environment below, runs one untimed operation, then timed
   operations until ``--seconds`` have passed, checking each output
   against the digest.
3. This script turns the record into metrics and prints, as its last
   line, ``{"correct", "attempted", "failed", "metrics"}``. The line
   before it is the full run record (host, git sha, pinned
   env, seed, every operation).

``--trace 0`` reports the end-to-end metrics, all of them costs that host
contention hardly moves (see ``report.end_to_end``): ``cpu_s`` (median
CPU seconds, user + system, that the timed process, its JVM and the
JVM's Python workers spend on one operation), ``setup_s`` (the CPU
seconds they spend from process start to the first timed operation:
``get_spark`` plus the untimed first operation) and
``rss_beyond_heap_mb`` (their peak summed RSS less the JVM's committed
heap, which is pinned and pre-touched).

``--trace 1`` starts the session with the Spark event log on, but
attaches its listener only for traced operations, which alternate with
untraced ones in the same process (untraced first and last). It then
runs the per-layer probes and reports the per-layer metrics. Tracing
overhead compares the traced operations' wall and CPU time with those of
the untraced ones after the first.
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
import uuid
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
WORK = REPO / ".perfbench"
HERE = Path(__file__).resolve().parent
DEADLINE_S = 175.0
DRIVER_MEM = "6g"
WORKLOADS = ("commit_resume", "ops_suite")


def fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 1


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_kb() -> int:
    with open("/proc/meminfo") as f:
        return int(next(line.split()[1] for line in f if line.startswith("MemTotal")))


def cpu_ticks() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (user, nice, system, idle,
    iowait, irq, softirq, steal, ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between:
    host contention that slows a run without showing in any layer."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def git_sha() -> str | None:
    """HEAD of the checkout, or None where it is not a git work tree."""
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=REPO, capture_output=True, text=True, timeout=10
        )
    except OSError:
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def pinned_env(marker: str) -> dict:
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.update(
        {
            "SPARK_GRAFT_CPUS": str(nproc()),
            "SPARK_DRIVER_MEM": DRIVER_MEM,
            # mapInPandas workers import the library from the repo root
            "PYTHONPATH": os.pathsep.join(filter(None, [str(REPO), os.environ.get("PYTHONPATH")])),
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "TMPDIR": str(tmp),
            "SPARK_LOCAL_DIRS": str(WORK / "spark-local"),
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "PYTHONUNBUFFERED": "1",
            "PERFBENCH_RUN": marker,
        }
    )
    env.pop("SPARK_DRIVER_JAVA_OPTS", None)
    return env


def _marked(marker: str) -> list[int]:
    """Processes started by this run (they inherit PERFBENCH_RUN)."""
    needle = f"PERFBENCH_RUN={marker}".encode()
    pids = []
    for pid in os.listdir("/proc"):
        if pid.isdigit() and int(pid) != os.getpid():
            try:
                with open(f"/proc/{pid}/environ", "rb") as f:
                    if needle in f.read().split(b"\0"):
                        pids.append(int(pid))
            except OSError:
                continue
    return pids


def reap(marker: str, grace: float = 10.0) -> None:
    """Stop every process this run started and wait until each has ended."""
    end = time.time() + grace
    sig = signal.SIGTERM
    while True:
        pids = _marked(marker)
        if not pids:
            return
        if time.time() > end:
            sig = signal.SIGKILL
        for p in pids:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.2)


def child(cmd: list[str], env: dict, deadline: float, log) -> int:
    """Run ``cmd`` to completion or until ``deadline``; its output goes to
    ``log`` (Spark is chatty; stdout stays for the result)."""
    proc = subprocess.Popen(cmd, env=env, cwd=REPO, stdout=log, stderr=subprocess.STDOUT)
    try:
        return proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        return -1


def build_inputs(workload: str, seed: int, env: dict, deadline: float, log) -> int:
    from perfbench.inputs import input_dir

    if (input_dir(WORK, workload, seed) / "manifest.json").exists():
        return 0
    rc = child([sys.executable, str(HERE / "inputs.py"), workload, str(seed), str(WORK)], env, deadline, log)
    reap(env["PERFBENCH_RUN"])
    return rc


def timed_run(workload, seed, seconds, trace, manifest, env, deadline, log) -> dict | None:
    out = WORK / "records" / f"{workload}-{seed}-{'trace' if trace else 'plain'}.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    out.unlink(missing_ok=True)
    cmd = [sys.executable, str(HERE / "measure.py"), workload, str(seed), str(seconds),
           "1" if trace else "0", str(manifest), str(WORK), str(out)]
    rc = child(cmd, env, deadline, log)
    reap(env["PERFBENCH_RUN"])
    if rc != 0 or not out.exists():
        return None
    return json.loads(out.read_text())


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    deadline = time.time() + DEADLINE_S
    ticks = cpu_ticks()

    for need in ("fineweb_legal_spark/__init__.py", "__spark_entry__.py", "tools/build_golden_misc.py"):
        if not (REPO / need).is_file():
            return fail(f"{need} not found under {REPO}: run from a checkout of the repository")

    marker = uuid.uuid4().hex
    env = pinned_env(marker)
    sys.path.insert(0, str(REPO))
    from perfbench import report
    from perfbench.inputs import input_dir

    WORK.mkdir(parents=True, exist_ok=True)
    log_path = WORK / "logs" / f"{args.workload}-{args.seed}-{marker[:8]}.log"
    log_path.parent.mkdir(parents=True, exist_ok=True)
    with open(log_path, "w") as log:
        t0 = time.time()
        if build_inputs(args.workload, args.seed, env, deadline, log) != 0:
            return fail(f"input build failed; see {log_path}")
        build_s = time.time() - t0
        manifest_path = input_dir(WORK, args.workload, args.seed) / "manifest.json"

        rec = timed_run(args.workload, args.seed, args.seconds, bool(args.trace), manifest_path, env, deadline, log)
        if rec is None:
            return fail(f"timed run failed; see {log_path}")

    cores = nproc()
    if args.trace:
        metrics = report.per_layer(rec, args.workload, cores)
        shutil.rmtree(Path(rec["event_log"]).parent, ignore_errors=True)
    else:
        metrics = report.end_to_end(rec)
    attempted, failed = report.attempts(rec)
    record = {
        "host": {"nproc": cores, "mem_total_kb": mem_total_kb(), "cpu_steal_share": steal_share(ticks, cpu_ticks())},
        "git_sha": git_sha(),
        "env": {k: env[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEM", "PYTHONPATH")},
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": bool(args.trace),
        "input_build_s": build_s,
        "run": rec,
    }
    print(json.dumps(record))
    shutil.rmtree(WORK / "warehouse", ignore_errors=True)
    log_path.unlink()  # kept only when the run fails
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))

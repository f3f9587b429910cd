"""Metrics of one run, from the timed process's record (and, for the
traced run, its event log). Metric names and meanings are listed in
``BENCHMARK.json``; per-layer metrics of a layer the workload does not
reach read 0.
"""

from __future__ import annotations

import statistics

from perfbench.eventlog import EventLog, count_exchanges, plan_nodes
from perfbench.inputs import OPS_QUERIES

# SQL metrics of Spark's Python exec nodes (PythonSQLMetrics)
PYTHON_METRICS = {
    "model.python_s": ("time to run Python workers", 1.0),
    "model.python_boot_s": ("time to start Python workers", 1.0),
    "model.to_python_mb": ("data sent to Python workers", 2.0**-20),
    "model.from_python_mb": ("data returned from Python workers", 2.0**-20),
    "model.rows": ("number of output rows", 1.0),
}
PYTHON_NODES = ("MapInPandas", "MapInArrow", "ArrowEvalPython", "BatchEvalPython",
                "FlatMapGroupsInPandas", "FlatMapGroupsInArrow", "FlatMapCoGroupsInPandas",
                "AggregateInPandas", "WindowInPandas", "ArrowWindowPython")
WRITE_NODES = ("InsertInto", "AppendData", "OverwritePartitionsDynamic", "OverwriteByExpression")


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _ok(op: dict) -> bool:
    return bool(op.get("ok"))


def attempts(rec: dict) -> tuple[int, int]:
    """(attempted, failed) operations, the untimed first one included."""
    ops = [*([rec["warmup"]] if "warmup" in rec else []), *rec["ops"], *rec.get("traced_ops", [])]
    return len(ops), sum(1 for op in ops if not _ok(op))


def end_to_end(rec: dict) -> dict:
    """CPU seconds, not wall time: the hypervisor's steal and neighbours'
    load stretch wall time by up to a third from one run to the next on a
    shared host, while the CPU time a run's processes are charged moves by
    a few per cent (wall times stay in the run record and the traced
    run's metrics)."""
    return {
        "cpu_s": {"value": median(op["cpu_s"] for op in rec["ops"]), "unit": "s"},
        "setup_s": {"value": rec["setup_cpu_s"], "unit": "s"},
        # the heap is pinned and pre-touched (-Xms = -Xmx, AlwaysPreTouch),
        # so it is resident whatever the work; the rest is what work moves
        "rss_beyond_heap_mb": {"value": rec["peak_rss_mb"] - rec["heap_committed_mb"], "unit": "MB"},
    }


def _python(log: EventLog, tags) -> dict:
    def is_py(name, _text):
        return name in PYTHON_NODES

    return {
        k: sum(log.sql_metric(log.tagged(t), m, is_py) for t in tags) * scale
        for k, (m, scale) in PYTHON_METRICS.items()
    }


def op_tags(ops, phases) -> list[list[str]]:
    """Per operation, the tags of its phases' Spark actions."""
    return [[f"{p}#{op['i']}" for p in phases] for op in ops]


def per_layer(rec: dict, workload: str, cores: int) -> dict:
    """Event-log metrics come from the traced operations; timings measured
    from outside and the probes from the untraced ones."""
    log = EventLog.read(rec["event_log"])
    traced = rec["traced_ops"]
    phases = ("kill", "resume") if workload == "commit_resume" else tuple(f"ops.{q}" for q in OPS_QUERIES)
    m: dict[str, float] = {
        "session.start_s": rec["session_start_s"],
        "session.warmup_s": rec["session_warmup_s"],
        "heuristics.s": median(rec.get("heuristics_s", [])),
        "conv_stats.s": median(rec.get("conv_stats_s", [])),
        "heuristics.pass_ratio": rec.get("heuristics_pass_ratio", 0.0),
    }
    tags_per_op = op_tags(traced, phases)
    py = [_python(log, tags) for tags in tags_per_op]
    for k in PYTHON_METRICS:
        m[k] = median(d[k] for d in py)
    m.update(rec["kernels"])

    def dedup_exchange(name, text):
        return name == "Exchange" and "norm_key" in text

    m["dedup.shuffle_write_mb"] = median(
        log.sql_metric([e for t in tags for e in log.tagged(t)], "shuffle bytes written", dedup_exchange)
        for tags in tags_per_op
    ) / 2**20
    m["dedup.duplicate_rows"] = float(rec.get("duplicate_rows", 0))

    def job(tags):
        tot = [log.job_totals(t) for t in tags]
        return {k: sum(x[k] for x in tot) for k in tot[0]}

    walls = [op["wall_s"] for op in traced]
    jobs = [job(tags) for tags in tags_per_op]
    for k in ("task_s", "gc_s", "shuffle_write_mb", "spill_mb", "tasks"):
        m[f"job.{k}"] = median(j[k] for j in jobs)
    m["job.cpu_busy_ratio"] = median(j["task_s"] / (w * cores) for j, w in zip(jobs, walls))

    m.update(_commit(log, rec) if workload == "commit_resume" else _zero_commit())
    m.update(_ops(log, rec) if workload == "ops_suite" else _zero_ops())

    # the first timed operation still pays for JIT compilation, so the
    # traced operations are compared with the untraced ones after it
    plain = rec["ops"][1:]
    m["trace.wall_s"] = median(walls)
    m["trace.untraced_wall_s"] = median(op["wall_s"] for op in plain)
    m["trace.overhead_ratio"] = m["trace.wall_s"] / m["trace.untraced_wall_s"]
    m["trace.cpu_s"] = median(op["cpu_s"] for op in traced)
    m["trace.untraced_cpu_s"] = median(op["cpu_s"] for op in plain)
    m["trace.cpu_overhead_ratio"] = m["trace.cpu_s"] / m["trace.untraced_cpu_s"]
    return {k: {"value": float(v), "unit": unit_of(k)} for k, v in m.items()}


def _is_write(name: str, _text: str = "") -> bool:
    return any(w in name for w in WRITE_NODES)


def _writes(log: EventLog, tags) -> list:
    """Executions of the tags whose plan writes to a table."""
    return [
        e for t in tags for e in log.tagged(t)
        if any(_is_write(n.get("nodeName", "")) for n in plan_nodes(e.plan))
    ]


COMMIT_KEYS = (
    "commit.kill_phase_s", "commit.resume_phase_s", "commit.write_s", "commit.write_jobs",
    "commit.files_written", "commit.bytes_written_mb", "commit.rows_committed",
    "commit.resume_rows_ratio",
)


def _zero_commit() -> dict:
    return dict.fromkeys(COMMIT_KEYS, 0.0)


def _commit(log: EventLog, rec: dict) -> dict:
    tags = op_tags(rec["traced_ops"], ("kill", "resume"))
    n = len(tags)

    def write_metric(i, metric, data_only=False):
        def node(name, text):
            return _is_write(name) and (not data_only or "perfbench_data," in text)

        return log.sql_metric(_writes(log, tags[i]), metric, node)

    def resume_rows(i):
        return _python(log, tags[i][1:])["model.rows"]

    pending = rec.get("pending_rows", 0)
    return {
        "commit.kill_phase_s": median(op["kill_s"] for op in rec["ops"]),
        "commit.resume_phase_s": median(op["resume_s"] for op in rec["ops"]),
        "commit.write_s": median(sum(e.duration_s for e in _writes(log, tags[i])) for i in range(n)),
        "commit.write_jobs": median(len(_writes(log, tags[i])) for i in range(n)),
        "commit.files_written": median(write_metric(i, "number of written files") for i in range(n)),
        "commit.bytes_written_mb": median(write_metric(i, "written output") for i in range(n)) / 2**20,
        "commit.rows_committed": median(
            write_metric(i, "number of output rows", data_only=True) for i in range(n)
        ),
        "commit.resume_rows_ratio": median(resume_rows(i) / pending for i in range(n)) if pending else 0.0,
    }


def _ops_keys():
    for q in OPS_QUERIES:
        for k in ("s", "exchanges", "reused_exchanges", "shuffle_write_mb"):
            yield f"ops.{q}.{k}"


def _zero_ops() -> dict:
    return dict.fromkeys(_ops_keys(), 0.0)


def _ops(log: EventLog, rec: dict) -> dict:
    out = {}
    for q in OPS_QUERIES:
        tags = [t for (t,) in op_tags(rec["traced_ops"], (f"ops.{q}",))]
        counts = [
            [count_exchanges(e.plan) for e in log.tagged(t)] for t in tags
        ]
        out[f"ops.{q}.s"] = median(op[f"{q}_s"] for op in rec["ops"])
        out[f"ops.{q}.exchanges"] = median(sum(c[0] for c in cs) for cs in counts)
        out[f"ops.{q}.reused_exchanges"] = median(sum(c[1] for c in cs) for cs in counts)
        out[f"ops.{q}.shuffle_write_mb"] = median(log.job_totals(t)["shuffle_write_mb"] for t in tags)
    return out


def unit_of(name: str) -> str:
    if name.endswith("_us"):
        return "us"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("ratio"):
        return "ratio"
    return "count"

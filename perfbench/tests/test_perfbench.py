"""The benchmark's own checks: output digest, event-log parsing, failure
accounting. Run from the repository root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import random

import pytest

from perfbench import digest, report
from perfbench.eventlog import EventLog, count_exchanges
from perfbench.inputs import build_chunk, merge_chunk_verdicts

SQL = "org.apache.spark.sql.execution.ui."


# ---- digest ---------------------------------------------------------------


def test_digest_is_order_independent_and_content_sensitive():
    rows = [("a", 1, 0.25, True, None), ("b", 2, None, False, "x"), ("c", 3, 1.5, None, "")]
    d = digest.digest_rows(rows)
    shuffled = rows[:]
    random.Random(7).shuffle(shuffled)
    assert digest.digest_rows(shuffled) == d
    assert d[0] == 3
    assert digest.digest_rows(rows[:2]) != d
    # numbers compare to within 1e-6
    assert digest.digest_rows([("a", 1, 0.2500001, True, None), *rows[1:]]) == d
    assert digest.digest_rows([("a", 1, 0.2501, True, None), *rows[1:]]) != d


def test_canon_reads_numbers_by_value_and_nan_as_null():
    import numpy as np
    import pandas as pd

    # an integer column that pandas holds as float64 (a nullable DuckDB
    # integer) digests like the integer
    assert digest.canon(3) == digest.canon(3.0) == digest.canon(np.int64(3)) == "3000000"
    assert digest.canon(float("nan")) == digest.canon(None) == digest.canon(pd.NA) == digest.NULL
    assert digest.canon(np.bool_(True)) == digest.canon(True) == "true"
    assert digest.canon(1e20) == digest.canon(2e20)  # clamped


def test_merge_of_chunk_verdicts_equals_the_oracle_on_the_whole_input(tmp_path):
    """Per-file oracle verdicts, merged, equal one oracle over all files."""
    import pandas as pd
    import pyarrow.parquet as pq

    from fineweb_legal_spark.oracle import oracle_verdicts

    frames = [build_chunk(5, i, 300, str(tmp_path / f"p{i}.parquet")) for i in range(3)]
    merged = merge_chunk_verdicts(frames)
    src = pd.concat([pq.read_table(tmp_path / f"p{i}.parquet").to_pandas() for i in range(3)])
    src["text"] = src["text"].astype("string")
    src["conv_id"] = src["conv_id"].astype("string")
    want = oracle_verdicts(src.reset_index(drop=True))
    cols = list(want.columns)
    assert (merged["reject_reason"] == "duplicate").sum() > 0
    assert digest.digest_pandas(merged, cols) == digest.digest_pandas(want, cols)


# ---- event log ------------------------------------------------------------


def _plan(name, metrics=(), children=(), text=""):
    return {
        "nodeName": name,
        "simpleString": text or name,
        "metrics": [{"name": n, "accumulatorId": a, "metricType": t} for n, a, t in metrics],
        "children": list(children),
    }


def _task(stage, run_ms, accums=(), shuffle=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Accumulables": [{"ID": a, "Update": v} for a, v in accums]},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "JVM GC Time": 1,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            "Disk Bytes Spilled": 0,
        },
    }


def _log(tmp_path):
    py = _plan("MapInPandas", [("time to run Python workers", 10, "timing"), ("number of output rows", 11, "sum")])
    ex = _plan("Exchange", [("shuffle bytes written", 12, "size")], [py], text="Exchange hashpartitioning(norm_key#1, 4)")
    write = _plan("Execute InsertIntoHadoopFsRelationCommand", [("number of output rows", 13, "sum")],
                  text="Execute InsertIntoHadoopFsRelationCommand file:/w/perfbench_data, false")
    final = _plan("AdaptiveSparkPlan", children=[_plan("ReusedExchange", children=[ex]), ex, write])
    events = [
        {"Event": "SparkListenerJobStart", "Stage IDs": [1, 2], "Properties": {"spark.job.description": "kill#0"}},
        {"Event": "SparkListenerJobStart", "Stage IDs": [3], "Properties": {"spark.job.description": "other"}},
        {"Event": SQL + "SparkListenerSQLExecutionStart", "executionId": 0, "description": "kill#0",
         "time": 1_000, "sparkPlanInfo": _plan("AdaptiveSparkPlan", children=[ex])},
        {"Event": SQL + "SparkListenerSQLAdaptiveExecutionUpdate", "executionId": 0, "sparkPlanInfo": final},
        _task(1, 500, [(10, 250), (11, 7)], shuffle=2**20),
        _task(2, 700, [(10, 150), (11, 3)]),
        _task(3, 9_000, [(99, 9_000)]),
        {"Event": SQL + "SparkListenerDriverAccumUpdates", "executionId": 0, "accumUpdates": [[13, 42]]},
        {"Event": SQL + "SparkListenerSQLExecutionEnd", "executionId": 0, "time": 3_500},
    ]
    path = tmp_path / "events"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    return EventLog.read(path)


def test_eventlog_groups_tasks_and_sql_metrics_by_tag(tmp_path):
    log = _log(tmp_path)
    execs = log.tagged("kill#0")
    assert len(execs) == 1 and execs[0].duration_s == 2.5
    jt = log.job_totals("kill#0")
    assert jt["task_s"] == 1.2 and jt["tasks"] == 2 and jt["shuffle_write_mb"] == 1.0
    assert log.sql_metric(execs, "time to run Python workers") == pytest.approx(0.4)  # ms -> s
    assert log.sql_metric(execs, "number of output rows", lambda n, t: n == "MapInPandas") == 10
    assert log.sql_metric(execs, "number of output rows", lambda n, t: "perfbench_data," in t) == 42
    assert count_exchanges(execs[0].plan) == (1, 1)
    py = report._python(log, ["kill#0"])
    assert py["model.python_s"] == pytest.approx(0.4) and py["model.rows"] == 10


# ---- failure accounting ---------------------------------------------------


def test_attempts_count_the_warmup_and_failed_operations():
    rec = {"warmup": {"ok": True}, "ops": [{"ok": True}, {"ok": False}, {"ok": False, "error": "boom"}]}
    assert report.attempts(rec) == (4, 2)


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    from fineweb_legal_spark.session import get_spark

    s = get_spark(app_name="perfbench_tests")
    yield s
    s.stop()


def test_spark_digest_matches_python_digest(spark):
    rows = [("a", 1, 0.25, True), ("b", None, None, False), (None, 3, 1.5, None)]
    df = spark.createDataFrame(rows, "s string, i int, d double, b boolean")
    cols = ["s", "i", "d", "b"]
    assert digest.from_row(df.agg(*digest.spark_digest_exprs(df, cols)).first().asDict()) == digest.digest_rows(rows)


def test_commit_resume_counts_a_wrong_digest_as_failed(spark, tmp_path):
    """A tiny seeded input: the true digest passes, a wrong one fails."""
    from perfbench.inputs import COMMIT_COLUMNS
    from perfbench.measure import checked
    from perfbench.workloads import CommitResume

    frames = [build_chunk(11, i, 200, str(tmp_path / "in" / f"p{i}.parquet")) for i in range(2)]
    kept = merge_chunk_verdicts(frames)
    kept = kept[kept["keep"]]
    manifest = {
        "input": str(tmp_path / "in"),
        "digest_columns": list(COMMIT_COLUMNS),
        "expected": list(digest.digest_pandas(kept, COMMIT_COLUMNS)),
    }
    good = CommitResume(spark, manifest)
    bad = CommitResume(spark, dict(manifest, expected=[manifest["expected"][0], 0, 0]))
    rec = {"warmup": checked(good, -1), "ops": [checked(bad, 0), checked(good, 1)]}
    assert [op["ok"] for op in [rec["warmup"], *rec["ops"]]] == [True, False, True]
    assert report.attempts(rec) == (3, 1)


def test_tree_cpu_counts_a_child_that_has_ended():
    import subprocess
    import sys

    from perfbench.proc import tree_cpu_s

    before = tree_cpu_s()
    subprocess.run([sys.executable, "-c", "sum(range(30_000_000))"], check=True)
    assert tree_cpu_s() - before >= 0.2


def test_documents_are_the_sf01_test_table():
    import hashlib

    from perfbench.inputs import DOCS_DIR, DOCS_SHA256

    assert hashlib.sha256((DOCS_DIR / "documents.parquet").read_bytes()).hexdigest() == DOCS_SHA256


def test_rss_sampler_counts_a_child_from_its_second_sample():
    import subprocess
    import sys
    import time

    from perfbench.proc import RssSampler

    child = subprocess.Popen(
        [sys.executable, "-c", "import sys, time; b = bytearray(200 * 2**20); sys.stdout.write('x'); sys.stdout.flush(); time.sleep(30)"],
        stdout=subprocess.PIPE,
    )
    try:
        child.stdout.read(1)
        r = RssSampler()
        assert r.sample() == 0  # a process seen once may be a transient fork
        time.sleep(0.1)
        assert r.sample() >= 200 * 2**20
    finally:
        child.kill()
        child.wait()

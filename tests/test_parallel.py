"""The width policy: a local session's shuffle width is its slot count
unless configured, a cluster master's is left to spark-submit, and
operators/parallel.py is the one place that reads it."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import pytest

from fineweb_legal_spark.operators.parallel import group_parallelism, widen
from fineweb_legal_spark.session import (
    default_driver_memory,
    get_spark,
    slots_known_at_start,
)

_KEY = "spark.sql.shuffle.partitions"


def test_session_width_is_the_slot_count(spark):
    df = spark.range(10)
    slots = spark.sparkContext.defaultParallelism
    assert int(spark.conf.get(_KEY)) == slots == group_parallelism(df)


def test_session_width_below_eight_slots():
    # a 3-slot session: the width must follow the session, with no fixed
    # floor (a separate process, since a process holds one SparkContext)
    code = (
        "from fineweb_legal_spark.session import get_spark\n"
        "s = get_spark(master='local[3]')\n"
        f"print('WIDTH', s.conf.get('{_KEY}'), s.sparkContext.defaultParallelism)\n"
        "s.stop()\n"
    )
    env = {**os.environ, "SPARK_DRIVER_MEM": "1g"}
    env.pop("SPARK_DRIVER_JAVA_OPTS", None)
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=Path(__file__).resolve().parent.parent,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "WIDTH 3 3" in out.stdout, out.stderr[-2000:]


@pytest.mark.parametrize(
    "master, local",
    [
        ("local", True),
        ("local[3]", True),
        ("local[*]", True),
        ("local[4,2]", True),
        ("spark://host:7077", False),
        ("local-cluster[2,1,1024]", False),
        ("yarn", False),
    ],
)
def test_width_is_derived_only_where_slots_exist_at_start(master, local):
    # a cluster master's executors register after the session starts;
    # deriving the width there would pin every shuffle to the placeholder
    assert slots_known_at_start(master) is local


def test_widen_spreads_narrow_scans_only(spark):
    width = group_parallelism(spark.range(1))
    narrow = spark.range(100, numPartitions=1)
    assert widen(narrow).rdd.getNumPartitions() == width
    wide = spark.range(100, numPartitions=width)
    assert widen(wide) is wide


def test_configured_shuffle_partitions_wins(spark):
    before = spark.conf.get(_KEY)
    try:
        s = get_spark(master="local[8]", extra_conf={_KEY: "3"})
        assert s is spark
        assert spark.conf.get(_KEY) == "3"
        assert group_parallelism(spark.range(1)) == spark.sparkContext.defaultParallelism
    finally:
        spark.conf.set(_KEY, before)
    assert spark.conf.get(_KEY) == before


def _meminfo(tmp_path, kib: int) -> str:
    p = tmp_path / "meminfo"
    p.write_text(f"MemTotal:       {kib} kB\nMemFree:        1024 kB\n")
    return str(p)


def test_driver_memory_follows_the_host(tmp_path):
    assert default_driver_memory(_meminfo(tmp_path, 16479424)) == "6g"  # 15 GB host
    assert default_driver_memory(_meminfo(tmp_path, 15 * 2**20)) == "6g"
    assert default_driver_memory(_meminfo(tmp_path, 128 * 2**20)) == "16g"  # capped
    assert default_driver_memory(_meminfo(tmp_path, 2**20)) == "1g"  # floor

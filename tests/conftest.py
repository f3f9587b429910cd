from __future__ import annotations

import os
import time

import pytest


@pytest.fixture
def driver_off_utc():
    """Run the driver process in a zone 4-5 hours off UTC (a POSIX rule,
    so no tzdata is needed), and restore its zone afterwards."""
    old = os.environ.get("TZ")
    os.environ["TZ"] = "EST+05EDT,M3.2.0,M11.1.0"
    time.tzset()
    try:
        assert time.localtime().tm_gmtoff != 0
        yield
    finally:
        if old is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old
        time.tzset()


@pytest.fixture(scope="session")
def spark():
    from fineweb_legal_spark.session import get_spark

    s = get_spark(app_name="fineweb_legal_spark_tests")
    yield s


@pytest.fixture(scope="session")
def t1_transcripts(spark):
    from fineweb_legal_spark.datasets import ensure_transcripts

    return spark.read.parquet(str(ensure_transcripts("t1")))


@pytest.fixture(scope="session")
def t1_verdicts(spark, t1_transcripts):
    """Pipeline verdicts computed ONCE per test session (each fresh Spark
    plan pays one-time codegen in this sandbox; see SKILL.md)."""
    from fineweb_legal_spark.pipeline import run_pipeline

    v = run_pipeline(spark, t1_transcripts).toPandas()
    return v.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)


@pytest.fixture(scope="session")
def t1_golden():
    import pyarrow.parquet as pq

    from fineweb_legal_spark.datasets import ensure_golden

    return pq.read_table(ensure_golden("t1")).to_pandas()

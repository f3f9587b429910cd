"""Pure helpers of the bench, plan-audit and correctness-check scripts
(no Spark session)."""

from __future__ import annotations

import hashlib
import sys
from pathlib import Path
from types import SimpleNamespace

import numpy as np
import pandas as pd
import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))
sys.path.insert(0, str(REPO / "tools"))

from bench import RESULT, _compact, scale_factor, session_conf  # noqa: E402
from check_correctness import value_hash  # noqa: E402
from dump_plans import stable_ids  # noqa: E402


@pytest.mark.parametrize(
    "sf_dir, sf",
    [
        ("/root/testdata/sf0.1", 0.1),
        ("/root/testdata/sf0.01/", 0.01),
        ("sf1", 1.0),
        ("/data/sf10.", 10.0),
        # odd paths read 0.0 instead of stopping the run before its JSON
        ("/srv/sfdata", 0.0),
        ("/data/sf0.1_copy", 0.0),
        ("/data/sf0.1/copy", 0.0),
        ("/data/sf", 0.0),
        ("/data/sfinf", 0.0),
        ("", 0.0),
    ],
)
def test_scale_factor_reads_last_path_component(sf_dir, sf):
    assert scale_factor(sf_dir) == sf


def test_stable_ids_ignores_session_counters():
    a = (
        "(1) Scan parquet\nOutput [2]: [id#1180L, text#1181]\n"
        "(2) Exchange\nArguments: hashpartitioning(id#1180L, 8), "
        "ENSURE_REQUIREMENTS, [plan_id=105]\n"
        "(3) Project\nOutput [2]: [MS[0]#1182L, max(len#77)#1183]\n"
        "Arguments: [id#1180L], MapPartitionsRDD[173] at localCheckpoint\n"
        "(4) Filter\nCondition : rlike(text#1181, &#39;|[#{}])\n"
        "(5) BroadcastExchange\nArguments: [plan_id=106]"
    )
    b = (
        a.replace("#1180", "#5")
        .replace("#1181", "#6")
        .replace("#1182", "#7")
        .replace("#1183", "#8")
        .replace("#77", "#9")
        .replace("plan_id=105", "plan_id=12")
        .replace("plan_id=106", "plan_id=13")
        .replace("RDD[173]", "RDD[4]")
    )
    assert stable_ids(a) == stable_ids(b)
    out = stable_ids(a)
    # a repeated id maps to one new number, the type suffix stays, and
    # entity / regex literals are not ids
    assert out.count("id#0L") == 3
    assert "[id#0L, text#1]" in out and "rlike(text#1, " in out
    assert "MS[0]#2L" in out and "max(len#3)#4" in out
    assert "[plan_id=0]" in out and "[plan_id=1]" in out
    assert "MapPartitionsRDD[0]" in out
    assert "&#39;|[#{}]" in out


def test_session_conf_records_master_and_chosen_keys():
    set_keys = {
        "spark.driver.memory": "6g",
        "spark.sql.shuffle.partitions": "4",
        "spark.python.daemon.module": "fineweb_legal_spark.worker_daemon",
    }
    spark = SimpleNamespace(
        sparkContext=SimpleNamespace(master="local[4]"),
        conf=SimpleNamespace(get=lambda k, default: set_keys.get(k, default)),
    )
    assert session_conf(spark) == {"master": "local[4]", **set_keys}
    del set_keys["spark.python.daemon.module"]
    assert session_conf(spark)["spark.python.daemon.module"] is None
    # the key is in the line from the start, and the compact line keeps it
    assert RESULT["conf"] == {}
    assert _compact({**RESULT, "conf": session_conf(spark)})["conf"]["master"] == "local[4]"


def _row_wise_value_hash(df: pd.DataFrame) -> str:
    """``value_hash`` as it was before its rows were joined per column:
    one Python lambda per row. The twin the vectorized join must match."""
    if len(df) == 0:
        return hashlib.sha256(",".join(sorted(df.columns)).encode()).hexdigest()[:16]
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        col = df[c]
        if col.dtype == object or str(col.dtype).startswith("string"):
            df[c] = col.astype("string")
    rows = df.astype("string").fillna("\x00NULL")
    joined = rows.apply(lambda r: "\x1f".join(r.values.tolist()), axis=1)
    return hashlib.sha256(
        "\x1e".join(sorted(joined.tolist())).encode()
    ).hexdigest()[:16]


@pytest.mark.parametrize(
    "df",
    [
        pd.DataFrame({"b": [3, 1, 2], "a": ["x", None, "z"]}),
        pd.DataFrame(
            {
                "i": pd.array([1, None, 3, 4], dtype="Int64"),
                "f": [0.5, np.nan, 1e-9, -2.0],
                "s": ["a\x1fb", "", None, "é"],
                "o": [[1, 2], None, "mixed", 7],
                "t": pd.to_datetime(["2024-01-01 00:00", None, "2024-01-03 04:05", "1970-01-01 00:00"]),
                "ok": [True, False, None, True],
            }
        ),
        pd.DataFrame({"only": ["one", None, "one"]}),
        pd.DataFrame({"n": [1.25]}),
        pd.DataFrame({"a": pd.Series([], dtype="int64"), "b": pd.Series([], dtype=object)}),
        pd.DataFrame(index=[10, 10, 11], data={"x": [1, 1, 2], "y": ["p", "p", None]}),
    ],
    ids=["nulls", "mixed", "one-column", "one-cell", "empty", "dup-index"],
)
def test_value_hash_matches_row_wise_twin(df):
    assert value_hash(df) == _row_wise_value_hash(df)

"""Pure helpers of the bench and plan-audit scripts (no Spark session)."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))
sys.path.insert(0, str(REPO / "tools"))

from bench import scale_factor  # noqa: E402
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

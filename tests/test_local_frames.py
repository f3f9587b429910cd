"""Driver-side rows become frames through ``session.arrow_table``.

``spark.createDataFrame`` over a Python list or tuple (or
``sparkContext.parallelize``) plans as ``Scan ExistingRDD`` over a Python
RDD: its tasks run Python, and beside SQL Python UDFs they start a second
Python worker pool. An Arrow table plans as a ``LocalTableScan``.
"""

from __future__ import annotations

import ast
from datetime import datetime, timezone
from pathlib import Path

import pyarrow as pa

from fineweb_legal_spark.lineage import LINEAGE_SCHEMA
from fineweb_legal_spark.session import arrow_table, explain_formatted

REPO = Path(__file__).resolve().parent.parent
# argument forms that are (or build) a Python sequence of rows
_ROW_LITERALS = (ast.List, ast.Tuple, ast.ListComp, ast.GeneratorExp, ast.Name)
_ROW_BUILDERS = {"list", "tuple", "sorted", "zip", "map"}


def _python_rdd_frames(source: str) -> list[int]:
    """Line numbers of ``parallelize`` calls and of ``createDataFrame``
    calls whose data is a Python sequence of rows."""
    found = []
    for node in ast.walk(ast.parse(source)):
        if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
            continue
        data = node.args[0] if node.args else None
        if node.func.attr == "parallelize" or (
            node.func.attr == "createDataFrame"
            and (
                isinstance(data, _ROW_LITERALS)
                or isinstance(data, ast.Call)
                and isinstance(data.func, ast.Name)
                and data.func.id in _ROW_BUILDERS
            )
        ):
            found.append(node.lineno)
    return found


def test_library_builds_no_frame_from_python_rows():
    paths = sorted((REPO / "fineweb_legal_spark").rglob("*.py"))
    paths.append(REPO / "__spark_entry__.py")
    hits = [
        f"{p.relative_to(REPO)}:{line}"
        for p in paths
        for line in _python_rdd_frames(p.read_text())
    ]
    assert hits == []


def test_guard_flags_python_row_frames():
    src = (
        "a = spark.createDataFrame([(1,)], 'x int')\n"
        "b = spark.createDataFrame(rows, 'x int')\n"
        "c = spark.createDataFrame(list(rows), 'x int')\n"
        "d = spark.sparkContext.parallelize(rows)\n"
        "e = spark.createDataFrame(arrow_table(rows, 'x int'))\n"
        "f = spark.createDataFrame(pd.DataFrame(rows))\n"
    )
    assert _python_rdd_frames(src) == [1, 2, 3, 4]


def test_arrow_table_types_and_empty(spark):
    t = arrow_table([(1, "a", b"\x00"), (2, None, None)], "k long, s string, b binary")
    assert t.schema.types == [pa.int64(), pa.string(), pa.binary()]
    assert t.to_pylist()[1] == {"k": 2, "s": None, "b": None}
    empty = arrow_table([], LINEAGE_SCHEMA)
    assert empty.num_rows == 0
    df = spark.createDataFrame(empty)
    assert df.schema == LINEAGE_SCHEMA
    assert "LocalTableScan" in explain_formatted(df)
    assert "ExistingRDD" not in explain_formatted(df)


def test_arrow_table_reads_naive_timestamps_as_local(driver_off_utc):
    naive = datetime(2025, 1, 15, 9, 30)  # 09:30 EST == 14:30Z
    aware = datetime(2025, 1, 15, 14, 30, tzinfo=timezone.utc)
    t = arrow_table([(naive,), (aware,), (None,)], "at timestamp")
    assert t.column("at").to_pylist() == [aware, aware, None]

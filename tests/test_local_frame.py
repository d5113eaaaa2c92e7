"""Driver rows -> DataFrame through `session.local_frame`: a JVM-local
relation (LocalTableScan), never a Python-RDD scan, with the values
`createDataFrame(list)` would give."""

from __future__ import annotations

import ast
import datetime
import os

import pytest

from graphiti_spark.session import local_frame

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "graphiti_spark")

ALL_TYPES = (
    "s string, i int, l long, f array<float>, b array<bigint>, bin binary, ts timestamp"
)
ALL_ROWS = [
    ("a", 1, 2**40, [1.5, -0.25], [2**40, -3], bytearray(b"\x00\xff"),
     datetime.datetime(2024, 7, 1, 12, 30, 5, 250)),
    ("ü北", -7, 0, [], [], bytearray(b""), datetime.datetime(1999, 12, 31)),
    (None, None, None, None, None, None, None),
]


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _python_rdd_scans(df) -> list[str]:
    """Leaves of the optimized plan that scan an RDD fed by Python (a
    localCheckpoint commit also plans as an RDD scan, but a JVM one)."""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    out = []
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.nodeName() == "LogicalRDD" and "PythonRDD" in leaf.rdd().toDebugString():
            out.append(leaf.toString())
    return out


@pytest.mark.parametrize("rows", [ALL_ROWS, []], ids=["rows", "empty"])
def test_local_frame_is_local_table_scan(spark, rows):
    df = local_frame(spark, rows, ALL_TYPES)
    assert "LocalTableScan" in _physical(df)
    assert "ExistingRDD" not in _physical(df)
    assert df.count() == len(rows)


def test_local_frame_does_not_depend_on_arrow_conf(spark):
    """The rows go through Arrow whatever the pandas-Arrow switches say:
    no silent fall back to the pickled path."""
    key = "spark.sql.execution.arrow.pyspark.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        df = local_frame(spark, [("x", 1)], "a string, b int")
        assert "LocalTableScan" in _physical(df)
    finally:
        spark.conf.set(key, old)


def test_local_frame_round_trips_like_create_data_frame(spark):
    got = local_frame(spark, ALL_ROWS, ALL_TYPES)
    want = spark.createDataFrame(ALL_ROWS, ALL_TYPES)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def test_local_frame_struct_schema(spark):
    from graphiti_spark.operators.multimodal import MEDIA_SCHEMA

    rows = [("m1", "image", bytearray(b"png"), "image/png", 4, 3, None)]
    got = local_frame(spark, rows, MEDIA_SCHEMA)
    assert got.schema == MEDIA_SCHEMA
    assert got.collect() == spark.createDataFrame(rows, MEDIA_SCHEMA).collect()


def test_construction_stages_scan_no_python_rdd(graph):
    for stage in ("uuid_map", "edges", "nodes", "mention_edges"):
        assert _python_rdd_scans(getattr(graph, stage)) == [], stage


def _create_data_frame_calls(path: str) -> list[tuple[str, str | None, int]]:
    """(file, enclosing function, line) of every `.createDataFrame(` call."""
    tree = ast.parse(open(path).read())
    found = []

    def visit(node, fn):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, child.name)
                continue
            if (isinstance(child, ast.Call) and isinstance(child.func, ast.Attribute)
                    and child.func.attr == "createDataFrame"):
                found.append((os.path.relpath(path, PKG), fn, child.lineno))
            visit(child, fn)

    visit(tree, None)
    return found


def test_only_local_frame_creates_data_frames():
    calls = []
    for root, _, files in os.walk(PKG):
        for name in files:
            if name.endswith(".py"):
                calls += _create_data_frame_calls(os.path.join(root, name))
    assert [(path, fn) for path, fn, _ in calls] == [("session.py", "local_frame")], calls

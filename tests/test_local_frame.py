"""Driver-side rows become a DataFrame one way: ``session.local_frame``.

The package calls ``createDataFrame`` only inside that helper, whose
Arrow table gives a ``LocalTableScan`` that carries the values exactly.
"""

from __future__ import annotations

import ast
import math
import struct
from pathlib import Path

import pytest

from scalable_data_ingestion_spark.session import local_frame

PACKAGE = Path(__file__).resolve().parents[1] / "scalable_data_ingestion_spark"


def _create_calls(tree) -> int:
    return sum(
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "createDataFrame"
        for node in ast.walk(tree)
    )


def test_package_creates_dataframes_only_in_local_frame():
    calls = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        n = _create_calls(ast.parse(path.read_text()))
        if n:
            calls[str(path.relative_to(PACKAGE))] = n
    assert calls == {"session.py": 1}
    session = ast.parse((PACKAGE / "session.py").read_text())
    (helper,) = [f for f in session.body if getattr(f, "name", None) == "local_frame"]
    assert _create_calls(helper) == 1


def _bits(v):
    return struct.pack("<d", v) if isinstance(v, float) else v


def test_local_frame_is_a_local_scan_and_exact(spark):
    rows = [(-0.0, 5e-324, None, "a"), (math.inf, 1.0, 7, None)]
    df = local_frame(spark, rows, "x double, y double, n bigint, s string")
    plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "simple")
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan
    assert df.schema.simpleString() == "struct<x:double,y:double,n:bigint,s:string>"
    got = [tuple(r) for r in df.collect()]
    assert [tuple(map(_bits, r)) for r in got] == [tuple(map(_bits, r)) for r in rows]
    assert local_frame(spark, [], "n bigint").count() == 0
    with pytest.raises(ValueError):  # a row wider than its schema
        local_frame(spark, [(1, 2)], "n bigint")

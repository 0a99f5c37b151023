"""``local_frame``: driver-held tables enter plans as Arrow LocalRelations."""

from __future__ import annotations

import json

from pyspark.sql import types as T

from pysparkflow.algo.maxflow import _FRONTIER_SCHEMA
from pysparkflow.session import local_frame

_I64_MIN, _I64_MAX = -(2**63), 2**63 - 1


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _jvm_schema(df) -> T.StructType:
    return T.StructType.fromJson(json.loads(df._jdf.schema().json()))


def test_local_frame_scans_locally(spark):
    rows = [(7, [7, 8], [3])]
    plan = _executed_plan(local_frame(spark, rows, _FRONTIER_SCHEMA))
    assert "LocalTableScan" in plan, plan
    assert "ExistingRDD" not in plan, plan
    # the list path this replaces: a PythonRDD scan
    listed = _executed_plan(spark.createDataFrame(rows, _FRONTIER_SCHEMA))
    assert "ExistingRDD" in listed, listed


def test_local_frame_round_trips_values(spark):
    rows = [
        (_I64_MIN, [_I64_MIN, -1, 0, _I64_MAX], [_I64_MAX]),
        (-5, [-5], []),
        (_I64_MAX, [], []),
    ]
    df = local_frame(spark, rows, _FRONTIER_SCHEMA)
    assert sorted(tuple(r) for r in df.collect()) == sorted(rows)

    flows = T.StructType([T.StructField(c, T.LongType()) for c in ("u", "v", "f")])
    empty = local_frame(spark, [], flows)
    assert empty.collect() == []
    assert empty.schema == flows


def test_local_frame_keeps_nullability(spark):
    df = local_frame(spark, [(1, [1], [])], _FRONTIER_SCHEMA)
    assert df.schema == _FRONTIER_SCHEMA
    assert _jvm_schema(df) == _FRONTIER_SCHEMA
    assert [f.nullable for f in _jvm_schema(df).fields] == [False, False, False]

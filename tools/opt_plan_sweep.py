"""Plan-shape sweep over the whole registry surface.

For every registry query, build the DataFrame (registry contract: this
may run eager sub-jobs) and histogram the physical plan's operators:
SortMergeJoin / BroadcastHashJoin / ShuffledHashJoin / BroadcastNestedLoopJoin,
Exchange / Sort, BatchEvalPython / ArrowEvalPython / MapInArrow / FlatMapGroupsInPandas,
CartesianProduct, and whether any parquet scan lacks PushedFilters when a
Filter sits above it. Output: one JSON with per-query counts, sorted so
the most suspicious plans lead.

Usage: python tools/opt_plan_sweep.py <out.json> [query ...]
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pysparkflow.engine.cache import release_tracked
from pysparkflow.relational.registry import QUERIES
from pysparkflow.session import get_spark

OPS = [
    "SortMergeJoin",
    "BroadcastHashJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
    "Exchange",
    "Sort ",
    "BatchEvalPython",
    "ArrowEvalPython",
    "MapInArrow",
    "FlatMapGroupsInPandas",
    "InMemoryTableScan",
    "Window",
]


def main() -> None:
    out_path = sys.argv[1]
    names = sys.argv[2:] or sorted(QUERIES)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="plan-sweep")
    rows = {}
    for i, name in enumerate(names):
        fn = QUERIES[name]
        spark.sparkContext.setJobDescription(f"plan-sweep: {name}")
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df.queryExecution() if hasattr(df, "queryExecution") else df._jdf.queryExecution(),
                "formatted",
            )
        except Exception as exc:  # noqa: BLE001
            rows[name] = {"error": str(exc)[:200]}
            release_tracked()
            continue
        counts = {op.strip(): plan.count(op) for op in OPS}
        counts = {k: v for k, v in counts.items() if v}
        scans = len(re.findall(r"Scan parquet", plan))
        pushed = len(re.findall(r"PushedFilters: \[[^\]]", plan))
        counts["scan_parquet"] = scans
        counts["scans_with_pushed"] = pushed
        counts["build_sec"] = round(time.time() - t0, 2)
        rows[name] = counts
        release_tracked()
        if (i + 1) % 20 == 0:
            print(f"... {i + 1}/{len(names)}", flush=True)
    with open(out_path, "w") as fh:
        json.dump(rows, fh, indent=1, sort_keys=True)
    # leaderboard: most SMJ, then python nodes, then exchanges
    def score(c):
        if "error" in c:
            return (99, 99, 99)
        return (
            c.get("SortMergeJoin", 0),
            c.get("BatchEvalPython", 0) + c.get("ArrowEvalPython", 0),
            c.get("Exchange", 0),
        )

    for name in sorted(rows, key=lambda n: score(rows[n]), reverse=True)[:40]:
        print(name, json.dumps(rows[name], sort_keys=True), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()

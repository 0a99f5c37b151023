"""Focused flagship sampler for the quiet-host A/B (VERDICT r13 #1).

Runs ONLY the flagship set (default: max_flow_approx, max_flow, kcore)
with the bench's own methodology — table warmup + a short relational
warmup front, memo-cleared min-of-2 for the flagships — and records
per-sample walls plus the bench host-calibration probes before/after.
One invocation = one tree: point it at a git-archive copy to sample an
old tree (sys.path comes from argv, so there is no hardcoded-repo
gotcha).

Usage:
  python tools/opt_flagship_ab.py <repo_root> <out.json> [query ...]

The A/B driver alternates invocations old/new/old/new... and compares
per-query MIN walls; the calibration rows let a later reader drop
degraded samples.
"""

from __future__ import annotations

import importlib.util
import json
import os
import sys
import time

REPO = sys.argv[1]
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from pysparkflow.engine.cache import release_tracked  # noqa: E402
from pysparkflow.relational.registry import (  # noqa: E402
    QUERIES,
    TABLES,
    clear_flow_memos,
    load_table,
)
from pysparkflow.session import get_spark  # noqa: E402


def _load_bench():
    spec = importlib.util.spec_from_file_location(
        "bench_ab", os.path.join(REPO, "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules["bench_ab"] = mod
    spec.loader.exec_module(mod)
    return mod


def main() -> None:
    out_path = sys.argv[2]
    names = sys.argv[3:] or ["max_flow_approx", "max_flow", "kcore"]
    bench = _load_bench()
    cal0 = bench._host_calibration()
    spark = get_spark()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    for t in TABLES:
        load_table(spark, sf_dir, t).count()
    # short relational warmup front (JVM/codegen soak, bench discipline)
    for w in ["scd2_temporal_join", "semi_join", "sort_limit"]:
        QUERIES[w](spark, sf_dir).write.format("noop").mode("overwrite").save()
        release_tracked()
    out: dict[str, dict] = {"calibration_before": cal0, "samples": {}}
    for name in names:
        walls = []
        for _ in range(2):
            if name in bench.MIN_OF_2_ALWAYS:
                clear_flow_memos()
            spark.sparkContext.setJobDescription(f"ab:{name}")
            t0 = time.time()
            QUERIES[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            walls.append(round(time.time() - t0, 3))
            release_tracked()
        out["samples"][name] = {"walls": walls, "min": min(walls)}
        print(f"[ab] {name}: {walls} -> {min(walls)}", file=sys.stderr)
    spark.stop()
    out["calibration_after"] = bench._host_calibration()
    with open(out_path, "w") as fh:
        json.dump(out, fh, indent=1)
        fh.write("\n")


if __name__ == "__main__":
    main()

"""Capture .explain("formatted") output for registry queries.

Usage: python tools/opt_plan_capture.py <out_dir> <suffix> [query ...]

Writes <out_dir>/<query>_<suffix>.txt for each named query (default: a
pinned heavy-hitter list). Building a query's DataFrame may run eager
sub-jobs (counts, persists) — that is the registry contract; the
captured plan is the FINAL returned DataFrame's physical plan, the one
the bench's noop sink executes.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pysparkflow.engine.cache import release_tracked
from pysparkflow.relational.registry import QUERIES
from pysparkflow.session import get_spark

# the bench's top cost centers at sf0.1 (bench_queries_r13.json)
DEFAULT = [
    "max_flow",
    "pagerank",
    "sssp_bounded",
    "ppr_related",
    "incremental_near_dup",
    "label_prop_communities",
    "bfs_distances",
    "semantic_dedup",
    "dedup_minhash_lsh",
    "kmeans_embeddings",
    "mixture_drift",
    "simhash_near_dups",
    "min_cut",
    "connected_components",
    "triangle_count",
    "zorder_layout",
    "knn_ivf_recall",
    "embedding_near_dups_lsh",
]


def main() -> None:
    out_dir = sys.argv[1] if len(sys.argv) > 1 else "plans/r13"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    names = sys.argv[3:] or DEFAULT
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="plan-capture")
    for name in names:
        fn = QUERIES[name]
        spark.sparkContext.setJobDescription(f"plan-capture: {name}")
        df = fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as fh:
            fh.write(plan)
        release_tracked()
        print(f"[plans] {name} -> {name}_{suffix}.txt", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()

"""Planted-truth scale evidence for llmops/kmeans.py.

Synthesizes N 64-dim vectors around k well-separated planted centers
(deterministic expression-level jitter, no RNG state), runs the full
Lloyd loop, and checks EXACT recovery: every planted group maps to
exactly one fitted cluster (purity 1.0), and every fitted centroid lands
within the jitter envelope of its planted center. The generator keys
cluster membership by id % k and ids 0..k-1 land in distinct groups, so
the engine's smallest-k-ids init starts one centroid inside each planted
cluster — recovery failure would mean the dataflow (assignment argmin /
centroid update / state rounding) is wrong, not the init.

Usage: python tools/kmeans_scale.py [n_vectors]   (default 20000 smoke;
500000 for the real run — results recorded in SCALING.md)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from pysparkflow.engine.cache import release_tracked
from pysparkflow.llmops.kmeans import kmeans_assignments, kmeans_fit
from pysparkflow.session import get_spark

K = 8
DIM = 64
SPREAD = 10.0  # planted center spacing
JITTER = 0.3  # max per-dim deviation from the center


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000
    spark = get_spark(
        app_name="kmeans-scale", master="local[32]", shuffle_partitions=32
    )
    # center c sits at SPREAD * (c+1) on dims where (dim + c) % 3 == 0,
    # else at -SPREAD * (c+1) — pairwise far apart in many dims
    centers = [
        [
            (SPREAD * (c + 1)) if (d + c) % 3 == 0 else (-SPREAD * (c + 1))
            for d in range(DIM)
        ]
        for c in range(K)
    ]
    center_lit = F.array(
        *[F.array(*[F.lit(x) for x in row]) for row in centers]
    )
    emb = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.element_at(center_lit, (F.col("id") % K + 1).cast("int")),
            lambda x, d: (
                x
                + ((F.col("id") * 31 + d * 7) % 13 - 6).cast("double")
                * (JITTER / 6.0)
            ).cast("float"),
        ).alias("embedding"),
    )
    t0 = time.time()
    cents = kmeans_fit(emb, k=K, rounds=4)
    fit_sec = round(time.time() - t0, 1)
    t0 = time.time()
    out = kmeans_assignments(emb, k=K, rounds=4)
    conf = (
        out.withColumn("truth", (F.col("id") % K).cast("int"))
        .groupBy("truth", "cluster")
        .agg(F.count("*").alias("cnt"))
        .collect()
    )
    assign_sec = round(time.time() - t0, 1)
    release_tracked()
    # purity: one fitted cluster per planted group, and a bijection
    by_truth: dict[int, set[int]] = {}
    total = 0
    for r in conf:
        by_truth.setdefault(r["truth"], set()).add(r["cluster"])
        total += r["cnt"]
    pure = all(len(s) == 1 for s in by_truth.values())
    bijective = pure and len({next(iter(s)) for s in by_truth.values()}) == K
    # fitted centroids inside the jitter envelope of their planted center
    worst = 0.0
    if bijective:
        for truth, s in by_truth.items():
            fitted = cents[next(iter(s))]
            worst = max(
                worst,
                max(abs(a - b) for a, b in zip(fitted, centers[truth])),
            )
    ok = bijective and total == n and worst <= JITTER
    print(
        json.dumps(
            {
                "n_vectors": n,
                "k": K,
                "dim": DIM,
                "fit_sec": fit_sec,
                "assign_check_sec": assign_sec,
                "purity_bijective": bijective,
                "rows_checked": total,
                "worst_centroid_err": round(worst, 4),
                "jitter_bound": JITTER,
                "ok": ok,
            }
        )
    )
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())

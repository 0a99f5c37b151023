"""Triangle-counting scale evidence with an analytic oracle (SCALING.md).

Graph: a disjoint union of C cliques of size k (default 24) — vertex i
belongs to clique i // k. Closed-form truth:

* edges     = C * k*(k-1)/2
* triangles = C * k*(k-1)*(k-2)/6

Generation is map-only and driver-free: vertex i emits edges to every
same-clique vertex j > i (sequence + explode), so each canonical edge
appears exactly once. Degree is uniform (k-1), making the degree-ordered
orientation fall back to pure id order — the wedge join is then
sum_j (k-1-j)^2 ≈ k^3/3 rows per clique, the algorithm's documented
worst-case-bounded shape, exercised here at millions of wedges.

A star hub is unioned on top (one vertex adjacent to the first vertex of
every clique) to plant the skew case: the hub's degree is C (≫ k), and
orientation must point every hub edge INTO the hub, adding zero wedges
at the hub and exactly zero new triangles (hub neighbors are pairwise
non-adjacent first-vertices of distinct cliques) — the count must not
move.

Usage: python tools/triangle_scale.py [n_cliques] [k]
                                      (default 43690 24 ≈ 1.05M vertices)
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from pysparkflow.graph.triangles import triangle_count
from pysparkflow.session import get_spark


def clique_union_edges(spark, n_cliques: int, k: int):
    """Canonical edge table of C disjoint k-cliques, map-only.

    Each vertex emits (src, src + j) for j in [1, k-1], kept only while
    the destination stays inside the clique. (Careful: F.sequence(a, b)
    with a > b generates a DESCENDING sequence rather than an empty one,
    so an offset-based sequence silently leaks edges into the next
    clique — caught by the analytic count.)"""
    ids = spark.range(n_cliques * k)
    return (
        ids.select(
            F.col("id").alias("src"),
            F.explode(F.sequence(F.lit(1), F.lit(k - 1))).alias("j"),
        )
        .where(F.pmod(F.col("src"), F.lit(k)) + F.col("j") <= k - 1)
        .select("src", (F.col("src") + F.col("j")).alias("dst"))
    )


def main() -> int:
    n_cliques = int(sys.argv[1]) if len(sys.argv) > 1 else 43690
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 24
    n = n_cliques * k
    expect_tri = n_cliques * math.comb(k, 3)
    spark = get_spark(
        app_name="triangle-scale", master="local[32]", shuffle_partitions=64
    )
    edges = clique_union_edges(spark, n_cliques, k)

    t0 = time.time()
    got = triangle_count(edges).collect()[0]["n_triangles"]
    t_plain = time.time() - t0
    assert got == expect_tri, (got, expect_tri)
    print(
        f"clique union: {n} vertices, {n_cliques * math.comb(k, 2)} edges, "
        f"{got} triangles == C*comb(k,3) in {t_plain:.1f}s"
    )

    # skew case: star hub over every clique's first vertex
    hub = n  # fresh id
    star = spark.range(n_cliques).select(
        (F.col("id") * k).alias("src"), F.lit(hub).cast("long").alias("dst")
    )
    t0 = time.time()
    got_star = triangle_count(edges.unionByName(star)).collect()[0]["n_triangles"]
    t_star = time.time() - t0
    assert got_star == expect_tri, (got_star, expect_tri)
    print(
        f"with degree-{n_cliques} star hub: count unchanged ({got_star}) "
        f"in {t_star:.1f}s — orientation absorbed the skew"
    )
    print("TRIANGLE SCALE PASSED")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

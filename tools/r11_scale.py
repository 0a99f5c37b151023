"""Round-11 scale evidence with planted truth (SCALING.md):
semantic_dedup — SemDeDup-style cluster-bucketed embedding dedup.

Check 1 (closed-form exactness, default 240k vectors, k=4, dim=8):
planted paraphrase clusters on four orthogonal axes. id i belongs to
group g = i % 4 with within-group index j = i // 4; axis 4 is a shared
"isolation" axis:

* j % 250 == 7   -> I+ class: v = e_g + e_4
* j % 250 == 13  -> I- class: v = e_g - e_4
* else           -> pure class: v = c * e_g, c = 1 + ((j % 16) / 16)

k-means (k=4, smallest-4-ids init = ids 0..3 = one pure vector per
axis) provably assigns every group-g vector to cluster g: for unit-ish
scales c, m, m' in [1, 2), dist^2 to the own-axis centroid is
(c - m)^2 [+1 for I rows] and to any other axis c^2 + m'^2 [+1], and
(c - m)^2 < c^2 + m'^2 <=> m(m - 2c) < m'^2, true since m <= 2 <= 2c.
So the within-cluster prior-max cosine has EXACT closed forms:

* j == 0             -> NULL (cluster-minimum id), kept
* j == 7 or j == 13  -> 0.7071 (first I+/I- of the group: max prior is
  a pure vector at cos 1/sqrt(2) = 0.70710678...; I+ vs I- is exactly
  0). Kept at threshold 0.9.
* everything else    -> exactly 1.0 (an earlier same-direction vector
  exists: pure scales share the axis; later I+/I- repeat their class
  direction), dropped.

All cosines are IEEE-exact, not approximate: c is a 4-bit binary
fraction, so norms and quotients are exact and the matmul of
normalized rows yields exactly 1.0 / 0.7071067811865476 / 0.0 — the
4-dp rounding cannot flip. Expected totals for n vectors: 4 NULL,
8 at 0.7071, n-12 at 1.0, exactly 12 kept.

Check 2 (mass duplication at ~1M vectors, k=16, dim=16): every vector
is a scaled copy of one of 16 axes (g = i % 16). Expected: exactly 16
survivors (the cluster-minimum ids), every other row max_prior_cosine
exactly 1.0 — the O(N)-output guarantee under a 100% duplication rate
(the kernel emits per-vector partial maxima, never the ~n^2/k pairs).

The 100 TB scale law is the knob this harness does NOT vary: SemDeDup
grows k proportionally with the corpus so E[cluster size] — and with
it the per-cluster quadratic matmul — stays constant (the paper runs
k=50k on LAION-440M). These checks pin the blocked kernel's
correctness across many chunk pairs (240k/4 and 960k/16 vectors per
cluster >> chunk_rows=2048 -> hundreds of cross-block pairs per
cluster, both id directions).

Usage: python tools/r11_scale.py [n1] [n2]  (defaults 240_000 960_000;
rounded down to multiples of 4000 / 16000)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from pysparkflow.llmops.semdedup import semantic_dedup
from pysparkflow.session import get_spark


def _planted_three_class(spark, n: int):
    """(vec_id, embedding float[8]) per the Check-1 design."""
    base = spark.range(n).select(F.col("id").alias("vec_id"))
    g = (F.col("vec_id") % 4).cast("int")
    j = (F.col("vec_id") / 4).cast("long")
    cls = F.when(j % 250 == 7, F.lit(1)).when(j % 250 == 13, F.lit(2)).otherwise(F.lit(0))
    c = F.lit(1.0) + ((j % 16).cast("double") / F.lit(16.0))
    comp = [
        F.when(g == d, F.when(cls == 0, c).otherwise(F.lit(1.0))).otherwise(F.lit(0.0))
        for d in range(4)
    ]
    comp.append(
        F.when(cls == 1, F.lit(1.0)).when(cls == 2, F.lit(-1.0)).otherwise(F.lit(0.0))
    )
    comp += [F.lit(0.0)] * 3
    emb = base.select(
        "vec_id",
        F.array(*[x.cast("float") for x in comp]).alias("embedding"),
    )
    return emb


def _check_closed_form(spark, n: int) -> str:
    n = (n // 4000) * 4000
    emb = _planted_three_class(spark, n)
    t0 = time.time()
    out = semantic_dedup(emb, k=4, rounds=4, threshold=0.9).persist()
    hist = {
        (r["max_prior_cosine"], r["keep"]): r["cnt"]
        for r in out.groupBy("max_prior_cosine", "keep")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    dt = time.time() - t0
    expect = {
        (None, True): 4,
        (0.7071, True): 8,
        (1.0, False): n - 12,
    }
    assert hist == expect, f"histogram mismatch: {hist} != {expect}"
    # the survivors are exactly the per-class group-first ids:
    # j=0 (ids 0..3), j=7 (ids 28..31), j=13 (ids 52..55)
    kept_ids = sorted(
        r["id"] for r in out.where("keep").select("id").collect()
    )
    assert kept_ids == list(range(4)) + list(range(28, 32)) + list(
        range(52, 56)
    ), kept_ids
    out.unpersist()
    return (
        f"closed-form: n={n}, k=4 -> histogram exact "
        f"(4 NULL / 8 @0.7071 / {n - 12} @1.0, 12 kept) in {dt:.1f}s"
    )


def _check_mass_dup(spark, n: int) -> str:
    n = (n // 16000) * 16000
    base = spark.range(n).select(F.col("id").alias("vec_id"))
    g = (F.col("vec_id") % 16).cast("int")
    c = F.lit(1.0) + (((F.col("vec_id") / 16).cast("long") % 16).cast("double") / F.lit(16.0))
    emb = base.select(
        "vec_id",
        F.array(
            *[F.when(g == d, c).otherwise(F.lit(0.0)).cast("float") for d in range(16)]
        ).alias("embedding"),
    )
    t0 = time.time()
    out = semantic_dedup(emb, k=16, rounds=2, threshold=0.9).persist()
    agg = out.agg(
        F.count("*").alias("rows"),
        F.sum(F.col("keep").cast("long")).alias("kept"),
        F.count_if(F.col("max_prior_cosine") == 1.0).alias("ones"),
        F.count_if(F.col("max_prior_cosine").isNull()).alias("nulls"),
    ).collect()[0]
    dt = time.time() - t0
    assert (agg["rows"], agg["kept"], agg["ones"], agg["nulls"]) == (
        n, 16, n - 16, 16
    ), dict(agg.asDict())
    out.unpersist()
    return (
        f"mass-dup: n={n}, k=16, 100% duplication -> exactly 16 "
        f"survivors, {n - 16} rows pinned at cosine exactly 1.0, output "
        f"O(N) in {dt:.1f}s"
    )


def _check_semantic_contamination(spark, n: int) -> str:
    """Planted mixture grid vs a 64-axis benchmark (dim 64): corpus row
    i targets axis a = i % 64 with class m = (i // 64) % 3 —

    * m=0: c * e_a                 -> max bench cosine exactly 1.0
    * m=1: e_a + e_{a+1}           -> exactly 1/sqrt(2)  = 0.7071
    * m=2: e_a + 3 * e_{a+1}       -> exactly 3/sqrt(10) = 0.9487

    All IEEE-exact (unit/3x components, 4-bit-fraction scales), so the
    histogram is a closed form: n/3 per class, and at threshold 0.9 the
    contaminated count is exactly 2n/3 (classes 1.0 and 0.9487). The
    corpus side is one map-only BLAS pass — no exchange to misattribute."""
    n = (n // 192) * 192
    bench = spark.range(64).select(
        (F.col("id") + 1_000_000_000).alias("vec_id"),
        F.array(
            *[
                F.when(F.col("id") == d, F.lit(1.0))
                .otherwise(F.lit(0.0))
                .cast("float")
                for d in range(64)
            ]
        ).alias("embedding"),
    )
    base = spark.range(n).select(F.col("id").alias("vec_id"))
    a = (F.col("vec_id") % 64).cast("int")
    m = ((F.col("vec_id") / 64).cast("long") % 3).cast("int")
    c = F.lit(1.0) + (((F.col("vec_id") / 192).cast("long") % 16).cast("double") / F.lit(16.0))
    comp = []
    for d in range(64):
        on_a = F.when(m == 0, c).otherwise(F.lit(1.0))
        on_next = F.when(m == 1, F.lit(1.0)).when(m == 2, F.lit(3.0)).otherwise(F.lit(0.0))
        comp.append(
            F.when(a == d, on_a)
            .when((a + 1) % 64 == d, on_next)
            .otherwise(F.lit(0.0))
            .cast("float")
        )
    corpus = base.select("vec_id", F.array(*comp).alias("embedding"))
    from pysparkflow.llmops.decontam import semantic_contamination

    t0 = time.time()
    hist = {
        (r["max_bench_cosine"], r["contaminated"]): r["cnt"]
        for r in semantic_contamination(corpus, bench, threshold=0.9)
        .groupBy("max_bench_cosine", "contaminated")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    dt = time.time() - t0
    expect = {
        (1.0, True): n // 3,
        (0.7071, False): n // 3,
        (0.9487, True): n // 3,
    }
    assert hist == expect, f"histogram mismatch: {hist} != {expect}"
    return (
        f"semantic_contamination: n={n} corpus x 64-axis benchmark -> "
        f"exact 3-class histogram (1.0 / 0.9487 / 0.7071, {2 * n // 3} "
        f"flagged) in {dt:.1f}s, map-only"
    )


def main() -> int:
    n1 = int(sys.argv[1]) if len(sys.argv) > 1 else 240_000
    n2 = int(sys.argv[2]) if len(sys.argv) > 2 else 960_000
    n3 = int(sys.argv[3]) if len(sys.argv) > 3 else 1_008_000
    spark = get_spark(
        app_name="r11-scale", master="local[32]", shuffle_partitions=32
    )
    for line in (
        _check_closed_form(spark, n1),
        _check_mass_dup(spark, n2),
        _check_semantic_contamination(spark, n3),
    ):
        print(f"[r11_scale] {line}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

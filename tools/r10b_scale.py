"""Round-10b operator scale evidence with planted truth (SCALING.md):
boilerplate_ngrams, cluster_stats, rank_fusion, centroid_affinity,
embedding_outliers — the curation operators added in round 10 alongside
mixture_drift (tools/r10_scale.py).

boilerplate_ngrams — planted recurring trigram at known density:

* id % 1000 == 7  -> "x" (one token: no trigram; the total-output row
  with NULL ratio). These ids are odd, so they never collide with the
  boiler class below.
* else id % 4 == 0 -> "u{id} v{id} w{id} c0 c1 c2": three per-doc-unique
  tokens then the shared phrase. Distinct trigrams = 4, exactly one of
  which (c0 c1 c2) recurs corpus-wide with df = n/4 >> min_docs=100;
  the three bridge/unique trigrams contain a per-id token (df = 1).
  Expected row: (4, 1, 0.25).
* else -> "u{id} v{id} w{id}": one trigram, df = 1. Expected (1, 0, 0).

min_docs = 100 (not the graded 4) so that no k-way hash collision among
the ~n per-id trigrams can promote a unique trigram to boilerplate —
the closed form is exact, not probabilistic. The check groups the
per-document output by (n_shingles, n_boiler, boiler_ratio) and demands
EXACTLY the three planted classes at their exact counts.

cluster_stats — planted histogram: per decade d = id // 10, a size-3
cluster {10d, 10d+1, 10d+2} and a size-2 cluster {10d+5, 10d+6}.
Sources: even decades use a per-decade source (single-source clusters),
odd decades use a per-id source (consecutive ids -> distinct sources ->
cross-source). Expected histogram for n docs: size 2 -> (n/10 clusters,
n/20 cross, n/5 docs), size 3 -> (n/10, n/20, 3n/10).

rank_fusion — two checks over n rows in 8 sources:

* single signal s = id, weight arbitrary (normalizes away): fused IS
  percent_rank over (source, id); per-source closed forms: min 0, max
  1, sum = cnt/2 exactly, keep count = floor((cnt-1)/2) + 1.
* two opposing equal-weight signals {id, -id}: every row's blended rank
  is exactly 0.5 (rank + reverse-rank is constant) -> one distinct
  fused value, all rows kept. Exercises multi-window fusion at scale.

Usage: python tools/r10b_scale.py [n_docs] (default 2_400_000; rounded
down to a multiple of 48000)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from pysparkflow.llmops.boilerplate import boilerplate_ngrams
from pysparkflow.llmops.dedup import cluster_stats
from pysparkflow.llmops.quality_model import rank_fusion
from pysparkflow.llmops.similarity import centroid_affinity, embedding_outliers
from pysparkflow.session import get_spark


def _check_boilerplate(spark, n: int) -> str:
    uid = F.col("id").cast("string")
    base = F.concat(
        F.lit("u"), uid, F.lit(" v"), uid, F.lit(" w"), uid
    )
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 1000 == 7, F.lit("x"))
        .when(F.col("id") % 4 == 0, F.concat(base, F.lit(" c0 c1 c2")))
        .otherwise(base)
        .alias("text"),
    )
    t0 = time.time()
    got = {
        (r["n_shingles"], r["n_boiler"], r["boiler_ratio"]): r["n"]
        for r in boilerplate_ngrams(docs, n=3, min_docs=100)
        .groupBy("n_shingles", "n_boiler", "boiler_ratio")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    sec = round(time.time() - t0, 2)
    n_tiny = n // 1000  # ids ending in 007: one per thousand
    n_boiler_docs = n // 4  # %1000==7 ids are odd, never %4==0
    expect = {
        (0, 0, None): n_tiny,
        (4, 1, 0.25): n_boiler_docs,
        (1, 0, 0.0): n - n_tiny - n_boiler_docs,
    }
    assert got == expect, (got, expect)
    return f"boilerplate_ngrams: {n} docs, 3 exact classes ({sec}s)"


def _check_cluster_stats(spark, n: int) -> str:
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(
            (F.col("id") / 10).cast("long") % 2 == 0,
            F.concat(F.lit("s"), ((F.col("id") / 10).cast("long") % 16).cast("string")),
        )
        .otherwise(F.concat(F.lit("s"), (F.col("id") % 16).cast("string")))
        .alias("source"),
    )
    dec = spark.range(n // 10).select((F.col("id") * 10).alias("d0"))
    trio = dec.select(
        F.explode(
            F.array(F.col("d0"), F.col("d0") + 1, F.col("d0") + 2)
        ).alias("doc_id"),
        F.col("d0").alias("keep_id"),
    )
    duo = dec.select(
        F.explode(F.array(F.col("d0") + 5, F.col("d0") + 6)).alias("doc_id"),
        (F.col("d0") + 5).alias("keep_id"),
    )
    clusters = trio.unionByName(duo)
    t0 = time.time()
    got = {
        r["cluster_size"]: (r["n_clusters"], r["n_cross_source"], r["n_docs"])
        for r in cluster_stats(clusters, docs).collect()
    }
    sec = round(time.time() - t0, 2)
    expect = {
        2: (n // 10, n // 20, n // 5),
        3: (n // 10, n // 20, 3 * n // 10),
    }
    assert got == expect, (got, expect)
    return (
        f"cluster_stats: {n} docs / {n // 5} clustered rows, exact "
        f"2-size histogram incl. cross-source counts ({sec}s)"
    )


def _check_rank_fusion(spark, n: int) -> str:
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("s"), (F.col("id") % 8).cast("string")).alias("source"),
        F.col("id").cast("double").alias("sig"),
    )
    t0 = time.time()
    # single signal: fused IS percent_rank over (source, id)
    per_src = {
        r["partition"]: r
        for r in rank_fusion(docs, {"s": F.col("sig")}, {"s": 3.0})
        .groupBy("partition")
        .agg(
            F.count("*").alias("cnt"),
            F.min("fused").alias("lo"),
            F.max("fused").alias("hi"),
            F.sum("fused").alias("tot"),
            F.sum(F.col("keep").cast("long")).alias("kept"),
        )
        .collect()
    }
    assert len(per_src) == 8, sorted(per_src)
    for src, r in per_src.items():
        cnt = r["cnt"]
        assert cnt == n // 8, (src, cnt)
        assert (r["lo"], r["hi"]) == (0.0, 1.0), (src, r)
        # sum of idx/(cnt-1) over idx in [0, cnt) = cnt/2; 6-dp rounding
        # perturbs each term < 5e-7
        assert abs(r["tot"] - cnt / 2) <= cnt * 5e-7, (src, r["tot"])
        assert r["kept"] == (cnt - 1) // 2 + 1, (src, r["kept"])
    # opposing equal-weight signals: blended rank exactly 0.5 everywhere
    both = (
        rank_fusion(
            docs,
            {"up": F.col("sig"), "down": -F.col("sig")},
            {"up": 1.0, "down": 1.0},
        )
        .agg(
            F.countDistinct("fused").alias("nv"),
            F.min("fused").alias("v"),
            F.sum(F.col("keep").cast("long")).alias("kept"),
        )
        .collect()[0]
    )
    sec = round(time.time() - t0, 2)
    assert (both["nv"], both["v"], both["kept"]) == (1, 0.5, n), both
    return (
        f"rank_fusion: {n} rows / 8 sources, closed-form percent_rank "
        f"aggregates + exact two-signal cancellation ({sec}s)"
    )


def _check_centroid_affinity(spark, n: int) -> str:
    """17 groups over 8 dims: group g (0..15) holds n/16 vectors along
    basis e_{g % 8} scaled by {0.7, 1.0, 1.3} balanced (avg exactly 1.0
    at 6 dp), so centroid(g) = e_{g % 8} after rounding and the full
    C(17,2) matrix is closed-form: 1.0 for residue-sharing pairs, 0.0
    for orthogonal pairs; group 16 holds +/- e_0 in equal numbers — a
    ZERO centroid whose affinity must be 0.0 to everyone (totality at
    scale, not a job kill)."""
    base = spark.range(n).select(
        F.col("id").alias("vec_id"),
        (F.col("id") % 16).cast("int").alias("label"),
        F.array(
            *[
                F.when(
                    (F.col("id") % 16) % 8 == k,
                    0.7 + (F.col("id") % 3).cast("double") * 0.3,
                ).otherwise(F.lit(0.0))
                for k in range(8)
            ]
        ).alias("embedding"),
    )
    zero = spark.range(n, n + n // 16).select(
        F.col("id").alias("vec_id"),
        F.lit(16).cast("int").alias("label"),
        F.array(
            (F.col("id") % 2 * 2 - 1).cast("double"),
            *[F.lit(0.0) for _ in range(7)],
        ).alias("embedding"),
    )
    t0 = time.time()
    got = {
        (r["group_a"], r["group_b"]): (r["cosine"], r["n_a"], r["n_b"])
        for r in centroid_affinity(base.unionByName(zero)).collect()
    }
    sec = round(time.time() - t0, 2)
    m = n // 16
    expect = {}
    for a in range(17):
        for b in range(a + 1, 17):
            cos = 1.0 if (b < 16 and a % 8 == b % 8) else 0.0
            expect[(a, b)] = (cos, m, m)
    assert got == expect, {
        k: (got.get(k), expect[k]) for k in expect if got.get(k) != expect[k]
    }
    return (
        f"centroid_affinity: {n + m} vectors / 17 groups, exact "
        f"C(17,2)=136-pair matrix incl. the zero-centroid group ({sec}s)"
    )


def _check_embedding_outliers(spark, n: int) -> str:
    """Same planted corpus family as the affinity check, ONE group over
    8 dims: m = n/16 vectors along e_0 scaled {0.7, 1.0, 1.3} balanced.
    Distances from the centroid e_0 are exactly {0.3, 0.0, 0.3}, so the
    distance histogram is closed-form (m/3 at 0, 2m/3 at 0.3) and the
    rank gate flags exactly m - ceil(0.95 * (m-1)) vectors — all from
    the tied 0.3 shell, id-tiebroken (rank determinism at scale)."""
    m = n // 16
    emb = spark.range(m).select(
        F.col("id").alias("vec_id"),
        F.lit(0).cast("int").alias("label"),
        F.array(
            0.7 + (F.col("id") % 3).cast("double") * 0.3,
            *[F.lit(0.0) for _ in range(7)],
        ).alias("embedding"),
    )
    t0 = time.time()
    got = {
        (r["dist"], r["is_outlier"]): r["n"]
        for r in embedding_outliers(emb)
        .groupBy("dist", "is_outlier")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    sec = round(time.time() - t0, 2)
    # the gate compares the ROUNDED pr (replayable from the published
    # column): the flag boundary is the smallest rank whose pr rounds
    # to >= 0.95, one rank earlier than the raw 0.95 cut when
    # rank/(m-1) lands in [0.9499995, 0.95) — replay the rounding
    # rather than ceil(0.95*(m-1)) (found at m=150000: 7501, not 7500)
    start = max(int(0.95 * (m - 1)) - 3, 0)
    idx_min = next(
        i for i in range(start, m) if round(i / (m - 1), 6) >= 0.95
    )
    n_flag = m - idx_min
    expect = {
        (0.0, False): m // 3,
        (0.3, False): 2 * m // 3 - n_flag,
        (0.3, True): n_flag,
    }
    assert got == expect, (got, expect)
    return (
        f"embedding_outliers: {m} vectors, closed-form distance "
        f"histogram + exact rank-gate count {n_flag} ({sec}s)"
    )


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 2_400_000
    n -= n % 48_000  # 16 groups x balanced %3 scaling x even zero-group
    assert n >= 48_000
    spark = get_spark(
        app_name="r10b-scale", master="local[32]", shuffle_partitions=32
    )
    t_all = time.time()
    for line in (
        _check_boilerplate(spark, n),
        _check_cluster_stats(spark, n),
        _check_rank_fusion(spark, n),
        _check_centroid_affinity(spark, n),
        _check_embedding_outliers(spark, n),
    ):
        print(line)
    print(
        f"R10B SCALE EVIDENCE PASSED (total {round(time.time() - t_all, 2)}s)"
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())

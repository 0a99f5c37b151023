"""Round-7 operator scale evidence with planted/closed-form truth
(SCALING.md): dedup resolution (both sides of the size gate),
cluster_split leakage safety, BM25 ranking.

Everything is generated IN SPARK (map-only, deterministic, no driver
data), and every check is closed-form exact:

* dedup_resolution on planted CHAINS: pairs (i, i+1) for every i with
  i % L != L-1 partition [0, N) into N/L components of length L, so the
  exact truth is keep(d) = d - d % L for EVERY doc. Run three ways —
  driver union-find (n_pairs known, <= gate), distributed with
  rows_hint (n_pairs known, > gate), distributed cold (count unknown) —
  all three must match the closed form exactly.
* cluster_split on those chains: every member of a chain must carry
  split_key == its chain minimum (zero leakage pairs by construction),
  and the train/val/test rates over the N/L distinct survivors must be
  within 1% of 80/10/10.
* bm25_scores on a fixed-length corpus: every doc has exactly dl = L
  tokens (avgdl == L, length normalizer == 1); "q" appears in 2% of
  docs (tf=2 at i%100==1, tf=1 at i%100==2) so df = N/50 and idf stays
  O(ln 50) at any corpus size;
  score(tf) = ln(1 + (N - df + .5)/(df + .5)) * tf * (k1+1) / (tf + k1)
  in closed form. The top-100 must be ids 1, 101, ..., 9901 (tf=2 beats
  tf=1, ties break by id), each with the closed-form score to 6
  decimals.

Usage: python tools/r7_scale.py [n_docs] (default 2_000_000)
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from pysparkflow.llmops.dedup import DRIVER_UNION_FIND_LIMIT, dedup_resolution
from pysparkflow.llmops.sampling import cluster_split
from pysparkflow.llmops.tfidf import bm25_scores
from pysparkflow.session import get_spark

CHAIN = 4  # component length L


def _chain_pairs(spark, n_docs: int):
    """(id_a, id_b) = (i, i+1) wherever i % CHAIN != CHAIN-1: exact
    components [k*CHAIN, (k+1)*CHAIN)."""
    return (
        spark.range(n_docs - 1)
        .where(F.col("id") % CHAIN != CHAIN - 1)
        .select(F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b"))
    )


def _check_resolution(res, n_docs: int) -> None:
    wrong = res.where(
        F.col("keep_id") != F.col("doc_id") - F.col("doc_id") % CHAIN
    ).count()
    total = res.count()
    assert wrong == 0 and total == n_docs, (wrong, total, n_docs)


def main() -> int:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    assert n_docs % CHAIN == 0 and n_docs % 100 == 0
    spark = get_spark(app_name="pysparkflow-r7-scale")
    out: dict = {"n_docs": n_docs}

    # --- dedup_resolution: three paths, one closed form -----------------
    # (a) driver union-find: small chain set under the gate
    n_small = min(n_docs, (DRIVER_UNION_FIND_LIMIT * CHAIN) // (CHAIN - 1) // 2 * 2)
    n_small -= n_small % CHAIN
    p_small = _chain_pairs(spark, n_small)
    k_small = p_small.count()
    assert k_small <= DRIVER_UNION_FIND_LIMIT, k_small
    t0 = time.time()
    _check_resolution(dedup_resolution(p_small, n_pairs=k_small), n_small)
    out["resolution_driver"] = {
        "n_docs": n_small, "n_pairs": k_small, "sec": round(time.time() - t0, 2)
    }

    # (b) distributed with rows_hint: the full chain set — above the gate
    # at the real scale (>= ~534k docs); a smoke run lands under it and
    # re-exercises the driver path, recorded as such
    p_big = _chain_pairs(spark, n_docs)
    k_big = p_big.count()
    t0 = time.time()
    _check_resolution(dedup_resolution(p_big, n_pairs=k_big), n_docs)
    out["resolution_hinted"] = {
        "n_docs": n_docs,
        "n_pairs": k_big,
        "path": "distributed" if k_big > DRIVER_UNION_FIND_LIMIT else "driver(smoke)",
        "sec": round(time.time() - t0, 2),
    }

    # (c) distributed cold (count unknown -> sized_cache counts itself)
    t0 = time.time()
    _check_resolution(dedup_resolution(p_big), n_docs)
    out["resolution_cold"] = {"sec": round(time.time() - t0, 2)}

    # --- cluster_split: zero leakage + rate accuracy ---------------------
    docs = spark.range(n_docs).select(F.col("id").alias("doc_id"))
    clusters = dedup_resolution(p_big, n_pairs=k_big)
    t0 = time.time()
    split = cluster_split(docs, clusters).localCheckpoint()
    # every doc keyed by its chain minimum -> near-dups cannot straddle
    leaks = split.where(
        F.col("split_key") != F.col("id") - F.col("id") % CHAIN
    ).count()
    assert leaks == 0, leaks
    rates = {
        r["split"]: r["n"]
        for r in split.groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    assert sum(rates.values()) == n_docs, rates
    for name, pct in (("train", 0.80), ("val", 0.10), ("test", 0.10)):
        got = rates[name] / n_docs
        assert abs(got - pct) < 0.01, (name, got)
    out["cluster_split"] = {
        "sec": round(time.time() - t0, 2),
        "rates": {k: round(v / n_docs, 4) for k, v in rates.items()},
    }

    # --- bm25: closed-form scores and ranking ---------------------------
    # every doc has dl = L exactly (avgdl == L, length normalizer == 1);
    # "q" appears in 2% of docs (tf=2 at i%100==1, tf=1 at i%100==2) so
    # df = n/50 and idf ~ ln(50) stays O(1) at any corpus size
    L = 16
    filler = " ".join(["x"] * (L - 2))
    corpus = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 100 == 1, F.lit(f"q q {filler}"))
        .when(F.col("id") % 100 == 2, F.lit(f"q x {filler}"))
        .otherwise(F.lit(f"x x {filler}"))
        .alias("text"),
    )
    t0 = time.time()
    top = bm25_scores(corpus, ["q"], top_k=100).collect()
    sec = round(time.time() - t0, 2)
    k1 = 1.2
    df = n_docs // 50
    idf = math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))

    def expect(tf: int) -> float:
        return round(idf * tf * (k1 + 1.0) / (tf + k1), 6)

    # tf=2 docs (ids 1, 101, 201, ...) outrank every tf=1 doc; ties by id
    assert [r.doc_id for r in top] == [1 + 100 * k for k in range(100)], top[:5]
    assert [r.rank for r in top] == list(range(1, 101))
    bad = [r for r in top if abs(r.score - expect(2)) > 1e-6]
    assert not bad, bad[:3]
    out["bm25"] = {"sec": sec, "top_score": expect(2)}

    # --- heavy hitters: planted skew over a long tail --------------------
    # tail: n_docs*4 rows over n_docs distinct keys (4 each, never
    # qualifying); planted: 20 keys x 5000 rows. min_count=1000 ->
    # support ~1.25e-4 stays above the freqItems floor (pruned path),
    # and the exact answer is precisely the 20 planted keys.
    from pysparkflow.operators.heavyhitters import heavy_hitters

    tail = spark.range(n_docs * 4).select((F.col("id") % n_docs + 1000).alias("k"))
    heavy = spark.range(20 * 5000).select((F.col("id") % 20).alias("k"))
    skewed = tail.unionAll(heavy)
    n_total = n_docs * 4 + 100_000
    t0 = time.time()
    hh = {r.key: r.n_rows for r in heavy_hitters(skewed, "k", 1000, n_total).collect()}
    sec = round(time.time() - t0, 2)
    assert hh == {k: 5000 for k in range(20)}, dict(list(hh.items())[:5])
    out["heavy_hitters"] = {"n_rows": n_total, "n_keys": n_docs + 20, "sec": sec}

    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())

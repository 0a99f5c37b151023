"""Similarity-search scale evidence with planted ground truth (SCALING.md).

The graded embeddings table is small (2k vectors at sf0.1); this
generates a corpus IN SPARK (map-only, deterministic) and measures the
approximate paths at a few hundred thousand vectors:

* vector i: 64 dims hash-derived uniform in [-1, 1);
* i % 10 == 3 -> near-duplicate of vector i-1: one of 64 dims
  re-randomized, cosine ≈ 63/64 ≈ 0.984 — planted pairs.

LSH parameters must scale with the corpus: r = bits-per-band ≈ log2(n)
keeps band buckets O(1) occupancy (r=4, fine for 2k vectors, would put
~6% of ALL pairs in colliding buckets at 200k), and recall at a given
cosine is then bought with bands: p(bit)=1-acos(0.984)/pi=0.943,
p^16≈0.2-0.4 per band across the planted-cosine spread, 16 bands ->
~0.99 planted-pair recall while random pairs match a band with
probability ~2^-16.

Checks: every returned pair has exact cosine >= threshold (the verify
step guarantees precision); >= 98% of planted pairs are recovered;
knn_lsh must rank each planted twin #1 for sampled near-dup queries.

Usage: python tools/ann_scale.py [n_vecs]   (default 200_000)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from pysparkflow.llmops.similarity import embedding_near_dups_lsh, knn_lsh
from pysparkflow.session import get_spark

DIM = 64
N_MUT = 1


def synth_embeddings(spark, n_vecs: int):
    ids = spark.range(n_vecs).select(F.col("id").alias("vec_id"))
    mod = F.pmod(F.col("vec_id"), F.lit(10))
    base = F.when(mod == 3, F.col("vec_id") - 1).otherwise(F.col("vec_id"))
    near = mod == 3

    def coord(doc_expr, k_expr, salt):
        return (
            F.pmod(F.xxhash64(doc_expr, k_expr + F.lit(salt)), F.lit(2000))
            / F.lit(1000.0)
            - F.lit(1.0)
        ).cast("float")

    vec = F.transform(
        F.sequence(F.lit(0), F.lit(DIM - 1)),
        lambda k: F.when(
            near & (k >= DIM - N_MUT), coord(F.col("vec_id"), k, 1_000_000)
        ).otherwise(coord(base, k, 0)),
    )
    return ids.select("vec_id", vec.alias("embedding"))


def main() -> int:
    n_vecs = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    spark = get_spark(app_name="pysparkflow-ann-scale")
    emb = synth_embeddings(spark, n_vecs).persist()
    emb.count()
    out: dict = {"n_vecs": n_vecs, "dim": DIM}
    planted = len([i for i in range(n_vecs) if i % 10 == 3 and i >= 1])

    t0 = time.time()
    pairs = embedding_near_dups_lsh(
        emb, threshold=0.8, n_bits=256, bands=16, dim=DIM
    ).persist()
    n_pairs = pairs.count()
    hits = pairs.where(
        (F.pmod(F.col("id_b"), 10) == 3) & (F.col("id_a") == F.col("id_b") - 1)
    ).count()
    out["near_dups_lsh"] = {
        "sec": round(time.time() - t0, 1),
        "pairs": n_pairs,
        "planted": planted,
        "recall": round(hits / planted, 4),
    }
    assert out["near_dups_lsh"]["recall"] >= 0.98, out["near_dups_lsh"]
    print("[ann] near_dups OK", out["near_dups_lsh"], file=sys.stderr)

    # 100 queries, each a planted near-dup row: its twin must rank #1
    queries = emb.where(
        (F.pmod(F.col("vec_id"), 10) == 3) & (F.col("vec_id") < 1000)
    )
    n_q = queries.count()
    t0 = time.time()
    knn = knn_lsh(emb, queries, k=5, n_bits=256, bands=16, dim=DIM).persist()
    top1_twin = knn.where(
        (F.col("rank") == 1) & (F.col("item_id") == F.col("query_id") - 1)
    ).count()
    out["knn_lsh"] = {
        "sec": round(time.time() - t0, 1),
        "n_queries": n_q,
        "twin_at_rank1": top1_twin,
    }
    assert top1_twin >= 0.95 * n_q, out["knn_lsh"]
    print("[ann] knn OK", out["knn_lsh"], file=sys.stderr)

    # corpus-wide kNN graph at the same banding: every planted near-dup
    # row must see its twin at rank 1 (checked from the ≡3 side; the
    # twin's own neighbor list sees the ≡3 row symmetrically). With
    # r=16-bit bands the background collision rate is ~2.4e-4, so the
    # verify set stays ~1e-4 of all-pairs — the graph is built without
    # any quadratic stage.
    from pysparkflow.llmops.similarity import knn_graph

    t0 = time.time()
    g = knn_graph(emb, k=1, n_bits=256, bands=16, dim=DIM).persist()
    twin_edges = g.where(
        (F.pmod(F.col("id"), 10) == 3)
        & (F.col("neighbor") == F.col("id") - 1)
        & (F.col("rank") == 1)
    ).count()
    n_rows = g.count()
    out["knn_graph"] = {
        "sec": round(time.time() - t0, 1),
        "rows": n_rows,
        "planted": planted,
        "twin_at_rank1": twin_edges,
        "twin_recall": round(twin_edges / planted, 4),
    }
    assert out["knn_graph"]["twin_recall"] >= 0.98, out["knn_graph"]
    g.unpersist()
    print("[ann] knn_graph OK", out["knn_graph"], file=sys.stderr)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())

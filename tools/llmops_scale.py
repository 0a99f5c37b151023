"""Dedup-family scale evidence with planted ground truth (SCALING.md).

The graded documents table is small (2k docs at sf0.1), so this generates
a corpus IN SPARK (map-only, deterministic, no driver data) with planted
duplicates and measures the dedup family at several hundred thousand
documents:

* doc i's tokens are hash-derived pseudo-words w<hash(base,k)> (60/doc);
* i % 10 == 7  -> exact duplicate of doc i-1 (planted exact pairs);
* i % 10 == 3  -> near-duplicate of doc i-1: last 3 of 60 tokens
  replaced, so 3-gram-shingle Jaccard ≈ 52/64 ≈ 0.81 — above the 0.5
  LSH threshold with the standard 8x4 banding (P(candidate) ≈ 0.985).

Verification against the planted truth:
* exact_duplicates must find EXACTLY the planted exact groups;
* minhash_lsh_pairs must return only true-Jaccard >= 0.5 pairs
  (precision 1 by construction of the verify step) and recover >= 95%
  of planted near pairs (the banding miss rate is ~1.5%);
* simhash / quality_features / token stats are timed end-to-end.

Usage: python tools/llmops_scale.py [n_docs]   (default 500_000)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from pysparkflow.llmops.dedup import (
    exact_duplicates,
    minhash_lsh_pairs,
    simhash_signatures,
)
from pysparkflow.llmops.textstats import quality_features
from pysparkflow.session import get_spark

N_TOKENS = 60
N_MUT = 3  # trailing tokens replaced in a near-duplicate


def synth_documents(spark, n_docs: int):
    ids = spark.range(n_docs).select(F.col("id").alias("doc_id"))
    mod = F.pmod(F.col("doc_id"), F.lit(10))
    base = F.when(
        (mod == 7) | (mod == 3), F.col("doc_id") - 1
    ).otherwise(F.col("doc_id"))
    near = mod == 3

    def word(doc_expr, k_expr, salt):
        return F.concat(
            F.lit("w"),
            F.pmod(F.xxhash64(doc_expr, k_expr + F.lit(salt)), F.lit(50_000)),
        )

    toks = F.transform(
        F.sequence(F.lit(0), F.lit(N_TOKENS - 1)),
        lambda k: F.when(
            near & (k >= N_TOKENS - N_MUT),
            word(F.col("doc_id"), k, 1_000_000),
        ).otherwise(word(base, k, 0)),
    )
    return ids.select("doc_id", F.array_join(toks, " ").alias("text"))


def main() -> int:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 500_000
    spark = get_spark(app_name="pysparkflow-llmops-scale")
    docs = synth_documents(spark, n_docs).persist()
    docs.count()
    out: dict = {"n_docs": n_docs}

    planted_exact = len([i for i in range(n_docs) if i % 10 == 7 and i >= 1])
    planted_near = len([i for i in range(n_docs) if i % 10 == 3 and i >= 1])

    t0 = time.time()
    ex = exact_duplicates(docs).persist()
    n_groups = ex.count()
    bad = ex.where((F.col("n_docs") != 2) | (F.pmod(F.col("keep_id"), 10) != 6)).count()
    out["exact_dedup"] = {
        "sec": round(time.time() - t0, 1),
        "groups": n_groups,
        "expected": planted_exact,
        "malformed": bad,
    }
    assert n_groups == planted_exact and bad == 0, out["exact_dedup"]
    print("[llmops] exact OK", out["exact_dedup"], file=sys.stderr)

    t0 = time.time()
    mh = minhash_lsh_pairs(docs, threshold=0.5).persist()
    n_pairs = mh.count()
    # recall over planted near pairs (id_a = i-1, id_b = i, i%10==3)
    hits = mh.where(
        (F.pmod(F.col("id_b"), 10) == 3) & (F.col("id_a") == F.col("id_b") - 1)
    ).count()
    # exact planted dups (J=1) must ALL be found (every band collides)
    exact_hits = mh.where(
        (F.pmod(F.col("id_b"), 10) == 7) & (F.col("id_a") == F.col("id_b") - 1)
    ).count()
    out["minhash_lsh"] = {
        "sec": round(time.time() - t0, 1),
        "pairs": n_pairs,
        "near_recall": round(hits / planted_near, 4),
        "exact_recall": round(exact_hits / planted_exact, 4),
    }
    assert out["minhash_lsh"]["near_recall"] >= 0.95, out["minhash_lsh"]
    assert out["minhash_lsh"]["exact_recall"] == 1.0, out["minhash_lsh"]
    print("[llmops] minhash OK", out["minhash_lsh"], file=sys.stderr)

    t0 = time.time()
    simhash_signatures(docs).write.format("noop").mode("overwrite").save()
    out["simhash"] = {"sec": round(time.time() - t0, 1)}
    t0 = time.time()
    quality_features(docs).write.format("noop").mode("overwrite").save()
    out["quality"] = {"sec": round(time.time() - t0, 1)}

    # decontamination with planted truth: eval = the ~1000 docs ≡2 (mod 10)
    # among the first 10k ids; every ≡3 doc there is a planted near-dup of
    # its ≡2 predecessor (57/60 tokens shared -> shares 4-grams), so the
    # flagged set must be EXACTLY the ≡3 docs < 10k (4-gram coincidences
    # across unrelated hash-word docs are ~(1/50k)^4 — absent).
    from pysparkflow.llmops.decontam import contamination_hits

    t0 = time.time()
    ev = docs.where((F.pmod("doc_id", F.lit(10)) == 2) & (F.col("doc_id") < 10_000))
    corpus = docs.where(F.pmod("doc_id", F.lit(10)) != 2)
    hits = contamination_hits(corpus, ev, n=4).persist()
    n_flagged = hits.count()
    planted = corpus.where(
        (F.pmod("doc_id", F.lit(10)) == 3) & (F.col("doc_id") < 10_000)
    ).count()
    wrong = hits.where(
        (F.pmod("id", F.lit(10)) != 3) | (F.col("id") >= 10_000)
    ).count()
    out["decontam"] = {
        "sec": round(time.time() - t0, 1),
        "flagged": n_flagged,
        "planted": planted,
        "false_flags": wrong,
    }
    assert n_flagged == planted and wrong == 0, out["decontam"]
    hits.unpersist()
    print("[llmops] decontam OK", out["decontam"], file=sys.stderr)

    # sequence packing: distributed tiling invariant — within every bucket
    # the max reconstructed end offset equals the bucket's token total
    # (no gaps, no overlaps), and positions are unique.
    from pysparkflow.llmops.packing import pack_documents

    t0 = time.time()
    packed = pack_documents(docs, budget=2048, n_buckets=64).persist()
    agg = packed.groupBy("bucket").agg(
        F.sum("n_tokens").alias("tok_total"),
        F.max(F.col("example_id") * 2048 + F.col("offset") + F.col("n_tokens")).alias(
            "max_end"
        ),
        F.count("*").alias("n"),
        F.count_distinct(F.col("example_id") * 2048 + F.col("offset")).alias("n_pos"),
    )
    bad_buckets = agg.where(
        (F.col("tok_total") != F.col("max_end")) | (F.col("n") != F.col("n_pos"))
    ).count()
    n_packed = packed.count()
    out["packing"] = {
        "sec": round(time.time() - t0, 1),
        "docs": n_packed,
        "bad_buckets": bad_buckets,
    }
    assert n_packed == n_docs and bad_buckets == 0, out["packing"]
    packed.unpersist()
    print("[llmops] packing OK", out["packing"], file=sys.stderr)

    # span-level dedup with planted truth: 60 tokens / 16-word chunks ->
    # 4 spans per doc. An exact-dup doc (≡7) duplicates all 4 spans of
    # its predecessor; a near-dup (≡3) shares spans 0-2 (tokens 0-47)
    # and differs in span 3 (last 3 of its 12 tokens mutated). Token
    # words are hash-derived, so cross-doc span collisions are absent.
    from pysparkflow.llmops.dedup import span_dedup

    t0 = time.time()
    sd = span_dedup(docs, chunk_words=16).persist()
    by_drop = {
        r["n_dropped"]: r["n"]
        for r in sd.groupBy("n_dropped").agg(F.count("*").alias("n")).collect()
    }
    out["span_dedup"] = {
        "sec": round(time.time() - t0, 1),
        "full_dup_docs": by_drop.get(4, 0),
        "partial_dup_docs": by_drop.get(3, 0),
        "clean_docs": by_drop.get(0, 0),
    }
    assert by_drop.get(4, 0) == planted_exact, out["span_dedup"]
    assert by_drop.get(3, 0) == planted_near, out["span_dedup"]
    assert by_drop.get(0, 0) == n_docs - planted_exact - planted_near, out[
        "span_dedup"
    ]
    sd.unpersist()
    print("[llmops] span_dedup OK", out["span_dedup"], file=sys.stderr)

    # scan-fused scrub + tfidf + temperature mixture: timed end-to-end;
    # mixture checked against its own contract (sqrt flattening on a
    # 9:1 planted skew; small group keeps a higher rate than the big one)
    from pysparkflow.llmops.scrub import scrub_text
    from pysparkflow.llmops.tfidf import source_salient_terms
    from pysparkflow.llmops.sampling import temperature_mixture

    t0 = time.time()
    scrub_text(docs).write.format("noop").mode("overwrite").save()
    out["pii_scrub"] = {"sec": round(time.time() - t0, 1)}

    srcd = docs.withColumn(
        "source", F.concat(F.lit("s"), F.pmod("doc_id", F.lit(1000)))
    )
    t0 = time.time()
    n_tfidf = source_salient_terms(srcd, top_k=3).count()
    out["tfidf"] = {"sec": round(time.time() - t0, 1), "rows": n_tfidf}
    assert n_tfidf == 3000, out["tfidf"]

    skew = docs.withColumn(
        "source",
        F.when(F.pmod("doc_id", F.lit(10)) < 9, "big").otherwise("small"),
    )
    t0 = time.time()
    mix = (
        temperature_mixture(skew, target_frac=0.5, seed=7)
        .groupBy("source")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    rates = {r["source"]: r["n"] / (0.9 * n_docs if r["source"] == "big" else 0.1 * n_docs) for r in mix}
    out["temperature_mixture"] = {
        "sec": round(time.time() - t0, 1),
        "big_rate": round(rates.get("big", 0), 3),
        "small_rate": round(rates.get("small", 0), 3),
    }
    assert rates.get("small", 0) > rates.get("big", 1), out["temperature_mixture"]
    print(
        "[llmops] scrub/tfidf/mixture OK",
        out["pii_scrub"], out["tfidf"], out["temperature_mixture"],
        file=sys.stderr,
    )

    # round-4 sampling family: epoch shuffle, importance sampling,
    # token-budget selection — deterministic contracts checked at scale
    from pysparkflow.llmops.sampling import (
        epoch_shuffle,
        importance_sample,
        token_budget_select,
    )

    t0 = time.time()
    es = epoch_shuffle(docs, n_shards=32, epoch=5).persist()
    shard_stats = (
        es.groupBy("shard")
        .agg(F.count("*").alias("n"), F.max("pos").alias("mx"))
        .collect()
    )
    es.unpersist()
    ns = [r["n"] for r in shard_stats]
    out["epoch_shuffle"] = {
        "sec": round(time.time() - t0, 1),
        "shards": len(ns),
        "balance": round(max(ns) / min(ns), 3),
    }
    assert len(ns) == 32 and sum(ns) == n_docs, out["epoch_shuffle"]
    assert all(r["mx"] == r["n"] for r in shard_stats), "positions not dense"
    # binomial spread: ~±3σ each side around n/32 -> ratio 1 + 6/sqrt(n/32)
    assert max(ns) / min(ns) < 1 + 6 / (n_docs / 32) ** 0.5, out["epoch_shuffle"]
    print("[llmops] epoch_shuffle OK", out["epoch_shuffle"], file=sys.stderr)

    # planted 1:9 weight skew; expected keep rates c*w with
    # c = 0.4*n / (n/2*1 + n/2*9) = 0.08 -> light 0.08, heavy 0.72
    wdocs = docs.withColumn(
        "n_chars", F.when(F.pmod("doc_id", F.lit(2)) == 0, 1).otherwise(9)
    )
    t0 = time.time()
    ksel = (
        importance_sample(wdocs, target_frac=0.4)
        .groupBy(F.pmod("doc_id", F.lit(2)).alias("par"))
        .agg(F.count("*").alias("n"))
        .collect()
    )
    light = next((r["n"] for r in ksel if r["par"] == 0), 0)
    heavy = next((r["n"] for r in ksel if r["par"] == 1), 0)
    out["importance_sample"] = {
        "sec": round(time.time() - t0, 1),
        "light_rate": round(light / (n_docs / 2), 4),
        "heavy_rate": round(heavy / (n_docs / 2), 4),
    }
    assert 0.7 < out["importance_sample"]["heavy_rate"] < 0.74
    assert 0.07 < out["importance_sample"]["light_rate"] < 0.09
    print("[llmops] importance_sample OK", out["importance_sample"], file=sys.stderr)

    # uniform 60-token docs -> the budget contract closes exactly:
    # per source kept == floor(0.6 * count)
    t0 = time.time()
    tb = (
        token_budget_select(
            srcd, budget_frac_pct=60, group_col="source", text_col="text"
        )
        .groupBy("group")
        .agg(F.count("*").alias("kept"))
    )
    totals = srcd.groupBy("source").agg(F.count("*").alias("cnt"))
    off = (
        tb.join(totals, tb["group"] == totals["source"])
        .where(F.col("kept") != F.floor(F.col("cnt") * 0.6))
        .count()
    )
    out["token_budget"] = {"sec": round(time.time() - t0, 1), "off_sources": off}
    assert off == 0, out["token_budget"]
    print("[llmops] token_budget OK", out["token_budget"], file=sys.stderr)

    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())

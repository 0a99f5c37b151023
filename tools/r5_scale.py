"""Round-5 operator scale evidence with planted/closed-form truth
(SCALING.md) — the llmops_scale.py discipline applied to the round-5
additions: URL dedup, chunking, unigram LM scoring, BPE pair counts,
A-Res weighted sampling, MAD outliers.

Everything is generated IN SPARK (map-only, deterministic, no driver
data), and every check is either closed-form exact or a tight planted
band:

* URL dedup: urls derive from doc_id % 50 (the path; the host's
  doc_id % 10 is implied by it) with four case/www spellings, utm
  noise, fragments, slashes — exactly 50 canonical groups of n/50
  members each, min_id = the path index by construction.
* chunking: uniform hash-word documents of a known character length ->
  per-doc chunk count is a constant; totals close exactly.
* unigram LM: every doc must score (< 0) and token totals must equal
  docs x tokens-per-doc exactly.
* BPE pair counts: pair (w, NUMBER-first-digit) arithmetic is hash-
  driven; assert the count table's weighted total equals the corpus's
  total adjacent pairs (sum over words of freq*(len-1)) — a mass-
  conservation check the distributed pipeline must close exactly.
* A-Res weighted sampling: five planted weight classes; the sample's
  per-class rates must order strictly by weight and the heaviest class
  must be overrepresented vs uniform.
* MAD outliers at 5M events: uniform values (max dev ~1.35 sigma-equiv)
  with one planted 100x spike every 10,000 rows -> flags EXACTLY the
  planted spikes.

Usage: python tools/r5_scale.py [n_docs] [n_events]
       (defaults 500_000, 5_000_000)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from pysparkflow.llmops.bpe import pair_counts, word_frequencies
from pysparkflow.llmops.chunking import chunk_documents
from pysparkflow.llmops.lm_score import unigram_lm_scores
from pysparkflow.llmops.sampling import weighted_sample_wor
from pysparkflow.llmops.urltools import url_dup_groups
from pysparkflow.operators.timeseries import mad_outliers
from pysparkflow.session import get_spark

N_TOKENS = 40


def synth_documents(spark, n_docs: int):
    """Deterministic hash-word docs: 40 pseudo-words per doc. Hash
    digits are transliterated to letters so the `[a-z]` tokenizers see
    a real 50k-word vocabulary (digits would be split away)."""
    ids = spark.range(n_docs).select(F.col("id").alias("doc_id"))
    toks = F.transform(
        F.sequence(F.lit(0), F.lit(N_TOKENS - 1)),
        lambda k: F.concat(
            F.lit("w"),
            F.translate(
                F.pmod(F.xxhash64(F.col("doc_id"), k), F.lit(50_000)).cast(
                    "string"
                ),
                "0123456789",
                "abcdefghij",
            ),
        ),
    )
    return ids.select("doc_id", F.array_join(toks, " ").alias("text"))


def synth_urls(spark, n: int):
    h = (F.col("doc_id") % 10).cast("string")
    p = (F.col("doc_id") % 50).cast("string")
    base = (
        F.when(F.col("doc_id") % 4 == 0,
               F.concat(F.lit("HTTPS://WWW.SRC"), h, F.lit(".Example.COM")))
        .when(F.col("doc_id") % 4 == 1,
              F.concat(F.lit("https://www.src"), h, F.lit(".example.com")))
        .when(F.col("doc_id") % 4 == 2,
              F.concat(F.lit("https://src"), h, F.lit(".example.com")))
        .otherwise(F.concat(F.lit("https://SRC"), h, F.lit(".EXAMPLE.com")))
    )
    url = F.concat(
        base, F.lit("/doc/"), p,
        F.when(F.col("doc_id") % 7 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 3 == 0, F.lit("?utm_source=feed")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 5 == 0, F.lit("#s")).otherwise(F.lit("")),
    )
    return spark.range(n).select(F.col("id").alias("doc_id"), url.alias("url"))


def main() -> int:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 500_000
    n_events = int(sys.argv[2]) if len(sys.argv) > 2 else 5_000_000
    spark = get_spark(app_name="pysparkflow-r5-scale")
    out: dict = {"n_docs": n_docs, "n_events": n_events}

    # --- URL dedup: 50 canonical groups of n/50 each ------------------
    t0 = time.time()
    groups = url_dup_groups(synth_urls(spark, n_docs), "url", "doc_id").persist()
    n_groups = groups.count()
    per = n_docs // 50
    malformed = groups.where(F.col("n_dups") != per).count()
    # group (h, p): members are ids with id%10==h and id%50==p, i.e.
    # id%50 == p and p%10 must equal h -> min_id == p
    bad_min = groups.where(
        F.col("min_id")
        != F.regexp_extract("canonical_url", r"/doc/(\d+)$", 1).cast("long")
    ).count()
    out["url_dedup"] = {
        "sec": round(time.time() - t0, 1),
        "groups": n_groups,
        "malformed_size": malformed,
        "bad_min_id": bad_min,
    }
    assert n_groups == 50 and malformed == 0 and bad_min == 0, out["url_dedup"]
    groups.unpersist()
    print("[r5] url_dedup OK", out["url_dedup"], file=sys.stderr)

    docs = synth_documents(spark, n_docs).persist()
    docs.count()

    # --- chunking: per-doc count closed-form --------------------------
    # doc length is variable (word hashes are 1-5 digits); totals must
    # equal the sum of ceil(len/stride) computed independently by a
    # column expression over the same data
    t0 = time.time()
    ch = chunk_documents(docs, size=200, stride=150)
    total_chunks = ch.count()
    expect = docs.select(
        F.sum(F.floor((F.length("text") - 1) / 150) + 1).alias("e")
    ).collect()[0]["e"]
    out["chunking"] = {
        "sec": round(time.time() - t0, 1),
        "chunks": total_chunks,
        "expected": int(expect),
    }
    assert total_chunks == expect, out["chunking"]
    print("[r5] chunking OK", out["chunking"], file=sys.stderr)

    # --- unigram LM: coverage + sign ----------------------------------
    t0 = time.time()
    lm = unigram_lm_scores(docs).persist()
    n_scored = lm.count()
    bad = lm.where(
        (F.col("lm_score") >= 0) | (F.col("n_tokens") != N_TOKENS)
    ).count()
    out["lm_score"] = {
        "sec": round(time.time() - t0, 1),
        "scored": n_scored,
        "bad_rows": bad,
    }
    assert n_scored == n_docs and bad == 0, out["lm_score"]
    lm.unpersist()
    print("[r5] lm_score OK", out["lm_score"], file=sys.stderr)

    # --- BPE: pair-mass conservation ----------------------------------
    t0 = time.time()
    wf = word_frequencies(docs).persist()
    pc = pair_counts(wf)
    pair_mass = pc.agg(F.sum("n").alias("m")).collect()[0]["m"]
    expect_mass = wf.where(F.length("word") >= 2).agg(
        F.sum(F.col("freq") * (F.length("word") - 1)).alias("m")
    ).collect()[0]["m"]
    out["bpe_pairs"] = {
        "sec": round(time.time() - t0, 1),
        "pair_mass": int(pair_mass),
        "expected": int(expect_mass),
    }
    assert pair_mass == expect_mass, out["bpe_pairs"]
    wf.unpersist()
    print("[r5] bpe_pairs OK", out["bpe_pairs"], file=sys.stderr)

    # --- A-Res weighted sampling: rate ordering -----------------------
    t0 = time.time()
    wdf = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        (1.0 + F.pmod(F.col("id"), F.lit(5)).cast("double")).alias("w"),
    )
    k = n_docs // 50
    sel = weighted_sample_wor(wdf, k, "w").persist()
    n_sel = sel.count()
    rates = {
        int(r["cls"]): r["n"] / (n_docs / 5)
        for r in sel.groupBy(F.pmod("doc_id", F.lit(5)).alias("cls"))
        .agg(F.count("*").alias("n"))
        .collect()
    }
    ordered = all(rates[i] < rates[i + 1] for i in range(4))
    out["weighted_sample"] = {
        "sec": round(time.time() - t0, 1),
        "selected": n_sel,
        "rates_by_weight": {i + 1: round(rates[i], 4) for i in sorted(rates)},
        "strictly_ordered": ordered,
    }
    assert n_sel == k and ordered, out["weighted_sample"]
    assert rates[4] > (k / n_docs) * (5.0 / 3.0) * 0.9  # heaviest over uniform
    sel.unpersist()
    print("[r5] weighted_sample OK", out["weighted_sample"], file=sys.stderr)
    docs.unpersist()

    # --- MAD at event scale: exact planted classification -------------
    t0 = time.time()
    ev = spark.range(n_events).select(
        F.col("id").alias("event_id"),
        F.concat(F.lit("t"), F.pmod(F.col("id"), F.lit(5))).alias("event_type"),
        F.when(
            F.pmod(F.col("id"), F.lit(10_000)) == 9_999, F.lit(100.0)
        ).otherwise(
            (F.pmod(F.xxhash64("id"), F.lit(1_000_000)) / 1_000_000.0)
        ).alias("value"),
    )
    flagged = mad_outliers(ev, "event_type", "value", threshold=3.5).persist()
    n_flagged = flagged.count()
    false_pos = flagged.where(
        F.pmod(F.col("event_id"), F.lit(10_000)) != 9_999
    ).count()
    planted = n_events // 10_000
    out["mad_outliers"] = {
        "sec": round(time.time() - t0, 1),
        "flagged": n_flagged,
        "planted": planted,
        "false_pos": false_pos,
    }
    assert n_flagged == planted and false_pos == 0, out["mad_outliers"]
    flagged.unpersist()
    print("[r5] mad_outliers OK", out["mad_outliers"], file=sys.stderr)

    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())

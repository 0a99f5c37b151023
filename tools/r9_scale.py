"""Round-9 operator scale evidence with planted truth (SCALING.md):
the mixture_report composition audit (VERDICT r8 #4), the cross-source
overlap matrix, and the packing-assembly report.

Everything is generated IN SPARK (map-only, deterministic, no driver
data) and every report column has a CLOSED-FORM expected value:

* corpus: n_docs docs (n_docs % 240 == 0 so every residue class below
  splits exactly), source = floor(id/2) % 8 (8 equal sources, parity-
  balanced), text = fluent template x (id%3 + 2) for even ids / junk
  template x (id%3 + 2) for odd ids — the r8_scale 6-class corpus, so
  the quality gate keeps exactly the even half and each kept doc's
  score is one of three hand-computable values f2 < f3 < f4.
* planted dedup clusters: slot = id/2; every slot ≡ 3 (mod 5) is a
  LOSER (best = the slot-1 doc), every slot ≡ 2 (mod 5) the matching
  winner (best = itself). CRT over (mod 8 source, mod 5 role) makes
  exactly 1/5 of every source's kept docs losers.
* therefore, per source (all 8 identical): n_total = n/8,
  n_kept = n/16, gate_rate = 0.5, total_tokens = 33 * n_kept
  (11 tokens x mean reps 3), q_p25/q_p50/q_p75 = round(f2/f3/f4, 4)
  (each score fills a third of the sorted kept block, so the p*(N-1)
  interpolation points land strictly inside the f2/f3/f4 runs), and
  survivor_rate = 0.8 exactly.

A single mismatching source fails the run — the report operator's one
aggregation pass must reproduce all 9 columns exactly at millions of
rows, not just at the 500-row graded scale.

Usage: python tools/r9_scale.py [n_docs] (default 2_400_000; rounded
down to a multiple of 240)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from pysparkflow.llmops.quality_model import quality_classify
from pysparkflow.llmops.report import mixture_report
from pysparkflow.session import get_spark

# the r8_scale planted corpus (keep the templates in lockstep with
# tools/r8_scale.py — _hand_score is shared arithmetic)
GOOD = "the story of the day and the life of it all "
BAD = "tbl 99 x4 17 zz 42 "


def _hand_score(text: str) -> float:
    import math

    from pysparkflow.llmops.quality_model import QUALITY_WEIGHTS as w

    toks = text.strip().split()
    n_tokens = len(toks)
    n_chars = len(text)
    punct = sum(text.count(c) for c in ".,;:!?")
    digit = sum(text.count(c) for c in "0123456789")
    stop = text.count(" the ") + text.count(" and ") + text.count(" of ")
    z = (
        w["intercept"]
        + w["log_tokens"] * math.log(1.0 + n_tokens)
        + w["avg_token_len"] * round(n_chars / n_tokens, 4)
        + w["punct_ratio"] * round(punct / n_chars, 4)
        + w["digit_ratio"] * round(digit / n_chars, 4)
        + w["stopword_ratio"] * round(stop / n_tokens, 4)
    )
    return round(1.0 / (1.0 + math.exp(-z)), 6)


def main() -> int:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 2_400_000
    n_docs -= n_docs % 240
    assert n_docs >= 240
    spark = get_spark(
        app_name="r9-scale", master="local[32]", shuffle_partitions=32
    )
    t_all = time.time()

    reps = (F.col("id") % 3 + 2).cast("int")
    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        (F.floor(F.col("id") / 2) % 8).cast("string").alias("source"),
        F.when(F.col("id") % 2 == 0, F.repeat(F.lit(GOOD), reps))
        .otherwise(F.repeat(F.lit(BAD), reps))
        .alias("text"),
    )
    scored = quality_classify(docs)

    # planted clusters over slots (= kept docs): slot ≡ 3 (mod 5) loses
    # to slot-1; slot ≡ 2 (mod 5) is that winner
    slots = spark.range(n_docs // 2).select(F.col("id").alias("slot"))
    losers = slots.where(F.col("slot") % 5 == 3).select(
        (F.col("slot") * 2).alias("doc_id"),
        ((F.col("slot") - 1) * 2).alias("best_id"),
    )
    winners = slots.where(F.col("slot") % 5 == 2).select(
        (F.col("slot") * 2).alias("doc_id"),
        (F.col("slot") * 2).alias("best_id"),
    )
    survivors = losers.unionByName(winners)

    t0 = time.time()
    rows = mixture_report(docs, scored, survivors).collect()
    report_sec = round(time.time() - t0, 2)

    f = {r: _hand_score(GOOD * (r + 2)) for r in (0, 1, 2)}
    # kept scores by id%3: id = 2*slot -> reps residue (2*slot) % 3
    vals = sorted(f.values())
    expect = {
        "n_total": n_docs // 8,
        "n_kept": n_docs // 16,
        "gate_rate": 0.5,
        "total_tokens": 33 * (n_docs // 16),
        "q_p25": round(vals[0], 4),
        "q_p50": round(vals[1], 4),
        "q_p75": round(vals[2], 4),
        "survivor_rate": 0.8,
    }
    assert len(rows) == 8, len(rows)
    n_bad = 0
    for r in rows:
        got = {k: r[k] for k in expect}
        if got != expect:
            n_bad += 1
            print(f"MISMATCH source={r['source']}: {got} != {expect}")
    print(
        f"mixture_report: {n_docs} docs, 8 sources, {n_bad} mismatching "
        f"sources ({report_sec}s; total {round(time.time() - t_all, 2)}s)"
    )
    assert n_bad == 0

    # ---- source_overlap: two planted sources with closed-form Jaccard.
    # id -> (s = id%2, k = (id//2)%12); source A emits the word window
    # at k, source B at k+6 -> A's 3-gram set = {sh(0)..sh(12)} (13),
    # B's = {sh(6)..sh(18)} (13), intersection sh(6)..sh(12) = 7,
    # union 19 -> J = 7/19 exactly, at ANY corpus size covering the
    # residues (n_docs % 24 == 0 guarantees full coverage).
    from pysparkflow.llmops.overlap import source_overlap

    t0 = time.time()
    k = (F.floor(F.col("id") / 2) % 12) + F.when(
        F.col("id") % 2 == 1, F.lit(6)
    ).otherwise(F.lit(0))
    ov_docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, F.lit("A")).otherwise(F.lit("B")).alias(
            "source"
        ),
        F.concat_ws(
            " ",
            F.concat(F.lit("w"), k.cast("string")),
            F.concat(F.lit("w"), (k + 1).cast("string")),
            F.concat(F.lit("w"), (k + 2).cast("string")),
            F.concat(F.lit("w"), (k + 3).cast("string")),
        ).alias("text"),
    )
    (ov,) = source_overlap(ov_docs, n=3).collect()
    overlap_sec = round(time.time() - t0, 2)
    print(
        f"source_overlap: {n_docs} docs, 2 sources -> n_common="
        f"{ov['n_common']}, J={ov['jaccard']} (expect 7/19="
        f"{round(7 / 19, 6)}) ({overlap_sec}s)"
    )
    assert (ov["n_a"], ov["n_b"], ov["n_common"]) == (13, 13, 7), ov
    assert ov["jaccard"] == round(7 / 19, 6)

    # ---- the 100 TB knob: hash_frac's minwise-subspace Jaccard must
    # estimate the exact value. Planted wide-universe corpus: each doc
    # contributes one unique 3-gram window at k = id // 2 (so the
    # shingle universe scales with the corpus, ~n_docs distinct);
    # source A = even ids = windows k in [0, n/2), source B = odd ids =
    # windows k in [n/4, 3n/4) -> |A ∩ B| / |A ∪ B| -> 1/3 as n grows.
    # At frac = 1/16 the sampled sets still hold tens of thousands of
    # shingles, so the estimate must land within 2% absolute of exact.
    t0 = time.time()
    kw = F.floor(F.col("id") / 2) + F.when(
        F.col("id") % 2 == 1, F.lit(n_docs // 4)
    ).otherwise(F.lit(0))
    wide = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, F.lit("A")).otherwise(F.lit("B")).alias(
            "source"
        ),
        F.concat_ws(
            " ",
            F.concat(F.lit("u"), kw.cast("string")),
            F.concat(F.lit("u"), (kw + 1).cast("string")),
            F.concat(F.lit("u"), (kw + 2).cast("string")),
        ).alias("text"),
    )
    (ex,) = source_overlap(wide, n=3).collect()
    (est,) = source_overlap(wide, n=3, hash_frac=1 / 16).collect()
    frac_sec = round(time.time() - t0, 2)
    print(
        f"source_overlap hash_frac=1/16: exact J={ex['jaccard']} "
        f"(sets {ex['n_a']}/{ex['n_b']}), sampled J={est['jaccard']} "
        f"(sets {est['n_a']}/{est['n_b']}) ({frac_sec}s)"
    )
    assert abs(est["jaccard"] - ex["jaccard"]) < 0.02, (
        est["jaccard"],
        ex["jaccard"],
    )
    # the sample really is ~frac of the space, not a no-op
    assert est["n_a"] < ex["n_a"] / 8

    # ---- packing_report: two closed-form packing regimes over the
    # real pack_documents hash-bucketing. T=4 divides the 512 budget ->
    # zero spanning docs and total == 4*n_docs per bucket; T=513 > 512
    # -> EVERY doc spans a boundary.
    import math

    from pysparkflow.llmops.packing import pack_documents, packing_report

    t0 = time.time()
    for tok, check in ((4, "divides"), (513, "always-spans")):
        word = "x " * (tok - 1) + "x"
        pdocs = spark.range(n_docs).select(
            F.col("id").alias("doc_id"), F.lit(word).alias("text")
        )
        rep = packing_report(
            pack_documents(pdocs, budget=512, n_buckets=32), 512
        ).collect()
        assert sum(r["n_docs"] for r in rep) == n_docs
        for r in rep:
            assert r["total_tokens"] == tok * r["n_docs"]
            assert r["n_examples"] == math.ceil(tok * r["n_docs"] / 512)
            if check == "divides":
                assert r["n_spanning"] == 0, r
            else:
                assert r["n_spanning"] == r["n_docs"], r
    pack_sec = round(time.time() - t0, 2)
    print(
        f"packing_report: {n_docs} docs x 2 regimes, 32 buckets — "
        f"closed-form exact ({pack_sec}s)"
    )

    print("R9 SCALE EVIDENCE PASSED")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

"""Round-8 operator scale evidence with planted truth (SCALING.md):
the quality-classifier curation gate and the v3 pipeline.

Everything is generated IN SPARK (map-only, deterministic, no driver
data), and the checks are closed-form exact:

* quality_classify on a 6-class planted corpus: text depends only on
  (id % 2, id % 3) — three lengths of a fluent template (stopword-rich,
  no digits) and three lengths of a junk template (digit-heavy, no
  stopwords) — so there are exactly 6 distinct (class, score) values,
  each computable in closed form from the literal QUALITY_WEIGHTS.
  EVERY row's score must equal its class value to 1e-9 (checked
  distributively: count of mismatching rows == 0), every fluent doc
  must pass the 0.5 gate and every junk doc must fail it (planted
  separation, zero tolerance).
* curation_pipeline_v3 shape on the same corpus with 8 planted
  sources: the mixture runs on the kept (fluent) half only — zero junk
  docs may survive — and with equal-sized sources the temperature
  allocation is exactly target_frac per source (thr = 6000/10000), so
  each source's selected count must land within 3% of 0.6 * kept.

Usage: python tools/r8_scale.py [n_docs] (default 2_000_000)
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from pysparkflow.llmops.quality_model import QUALITY_WEIGHTS, quality_classify
from pysparkflow.llmops.sampling import temperature_mixture
from pysparkflow.session import get_spark

GOOD = "the story of the day and the life of it all "
BAD = "tbl 99 x4 17 zz 42 "


def _hand_score(text: str) -> float:
    toks = text.strip().split()
    n_tokens = len(toks)
    n_chars = len(text)
    w = QUALITY_WEIGHTS
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
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    spark = get_spark(
        app_name="r8-scale", master="local[32]", shuffle_partitions=32
    )
    t_all = time.time()
    reps = (F.col("id") % 3 + 2).cast("int")
    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        # floor(id/2) % 8: sources stay equal-sized WITHIN the kept
        # (even-id) half — id % 8 would alias parity onto the source
        (F.floor(F.col("id") / 2) % 8).cast("string").alias("source"),
        F.when(F.col("id") % 2 == 0, F.repeat(F.lit(GOOD), reps))
        .otherwise(F.repeat(F.lit(BAD), reps))
        .alias("text"),
    )

    # closed-form per-class scores from the same literal weights
    expect = {}
    for par in (0, 1):
        for r3 in (0, 1, 2):
            text = (GOOD if par == 0 else BAD) * (r3 + 2)
            expect[(par, r3)] = _hand_score(text)
    fluent = [expect[(0, r)] for r in (0, 1, 2)]
    junk = [expect[(1, r)] for r in (0, 1, 2)]
    assert min(fluent) >= 0.5 and max(junk) < 0.5, (fluent, junk)

    t0 = time.time()
    scored = quality_classify(docs)
    expect_col = F.element_at(
        F.array(*[F.lit(expect[(p, r)]) for p in (0, 1) for r in (0, 1, 2)]),
        ((F.col("id") % 2) * 3 + F.col("id") % 3 + 1).cast("int"),
    )
    bad = (
        scored.withColumn(
            "expected", expect_col
        )
        .where(
            (F.abs(F.col("q_score") - F.col("expected")) > 1e-9)
            | (F.col("keep") != (F.col("id") % 2 == 0))
        )
        .count()
    )
    classify_sec = round(time.time() - t0, 2)
    print(
        f"quality_classify: {n_docs} docs, {bad} score/gate mismatches "
        f"({classify_sec}s)"
    )
    assert bad == 0

    # pipeline shape: gate -> mixture; equal sources => exact 0.6 rate
    t0 = time.time()
    kept = scored.where(F.col("keep")).join(
        docs.select(F.col("doc_id").alias("id"), "source"), "id"
    )
    mixed = temperature_mixture(
        kept, group_col="source", id_col="id", target_frac=0.6, seed=11
    )
    per_source = {
        r.source: r.n for r in mixed.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    n_junk = mixed.where(F.col("id") % 2 == 1).count()
    mixture_sec = round(time.time() - t0, 2)
    kept_per_source = n_docs / 2 / 8
    worst = max(
        abs(per_source.get(str(s), 0) / kept_per_source - 0.6) for s in range(8)
    )
    print(
        f"curation_v3 shape: junk survivors={n_junk}, worst source rate "
        f"deviation from 0.6: {worst:.4f} ({mixture_sec}s)"
    )
    assert n_junk == 0
    assert worst <= 0.03 * 1.0, worst

    # ---- bloom-prefiltered join: exact result + measured selectivity.
    # fact keys = 0..N-1 (unique), dim keys = multiples of 1000 -> the
    # plain join has exactly N/1000 rows. The bloom gate's survivor
    # count is measured with the module's own probe pipeline: true
    # candidates (0.1%) + FPR (~3% at 10 bits/key, k=2) bounds it at 5%.
    from pysparkflow.operators.bloomjoin import (
        _mask,
        _positions,
        _word,
        bloom_prefiltered_join,
    )

    t0 = time.time()
    fact = spark.range(n_docs).select(F.col("id").alias("k"))
    dim = (
        spark.range(n_docs // 1000)
        .select((F.col("id") * 1000).alias("dk"))
    )
    n_join = bloom_prefiltered_join(fact, dim, "k", "dk").count()
    m = max(1024, (n_docs // 1000) * 10)
    survivors = fact
    blm = (
        dim.select(
            F.explode(F.array(*_positions(F.col("dk"), m, 2))).alias("_pos")
        )
        .select(_word("_pos").alias("_word"), _mask("_pos").alias("_m"))
        .groupBy("_word")
        .agg(F.bit_or("_m").alias("_bits"))
    )
    for i, p in enumerate(_positions(F.col("k"), m, 2)):
        survivors = (
            survivors.withColumn(f"_p{i}", p)
            .join(
                F.broadcast(
                    blm.select(
                        F.col("_word").alias(f"_w{i}"),
                        F.col("_bits").alias(f"_b{i}"),
                    )
                ),
                _word(f"_p{i}") == F.col(f"_w{i}"),
            )
            .where(F.col(f"_b{i}").bitwiseAND(_mask(f"_p{i}")) != 0)
            .drop(f"_p{i}", f"_w{i}", f"_b{i}")
        )
    n_pass = survivors.count()
    bloom_sec = round(time.time() - t0, 2)
    frac_pass = n_pass / n_docs
    print(
        f"bloom_join: {n_docs} fact rows, join={n_join} "
        f"(expect {n_docs // 1000}), bloom-pass {frac_pass:.4f} "
        f"({bloom_sec}s)"
    )
    assert n_join == n_docs // 1000
    assert frac_pass <= 0.05, frac_pass

    # ---- mutual information: three closed-form joints on N rows.
    from pysparkflow.operators.infotheory import mutual_information

    t0 = time.time()
    n_mi = (n_docs // 24) * 24
    base = spark.range(n_mi)
    # independent product (4 x 6 uniform): every contribution exactly 0
    indep = base.select(
        (F.col("id") % 4).alias("x"), ((F.col("id") / 4).cast("long") % 6).alias("y")
    )
    rows = mutual_information(indep, "x", "y").collect()
    assert all(r.mi_contrib == 0.0 for r in rows), rows
    # deterministic y = x: contribution per x = p ln(1/p), p = 1/4
    det = base.select((F.col("id") % 4).alias("x"), (F.col("id") % 4).alias("y"))
    want = round(0.25 * math.log(4.0), 6)
    rows = mutual_information(det, "x", "y").collect()
    assert all(r.mi_contrib == want for r in rows), (rows, want)
    # coarsening y = x % 2: contribution per x = 1/4 ln 2, total = H(Y)
    coarse = base.select(
        (F.col("id") % 4).alias("x"), (F.col("id") % 2).alias("y")
    )
    want2 = round(0.25 * math.log(2.0), 6)
    rows = mutual_information(coarse, "x", "y").collect()
    assert all(r.mi_contrib == want2 for r in rows), (rows, want2)
    mi_sec = round(time.time() - t0, 2)
    print(f"mutual_information: 3 closed-form joints x {n_mi} rows exact ({mi_sec}s)")

    # ---- survivor election: planted clusters of 3, analytic winners.
    from pysparkflow.llmops.dedup import select_cluster_representatives

    t0 = time.time()
    n_cl = (n_docs // 3) * 3
    clusters = spark.range(n_cl).select(
        F.col("id").alias("doc_id"),
        ((F.col("id") / 3).cast("long") * 3).alias("keep_id"),
    )
    # middle member scores 0.9, others 0.1 -> winner = keep_id + 1
    scored_cl = spark.range(n_cl).select(
        F.col("id").alias("id"),
        F.when(F.col("id") % 3 == 1, F.lit(0.9)).otherwise(F.lit(0.1)).alias(
            "q_score"
        ),
    )
    out_el = select_cluster_representatives(clusters, scored_cl)
    bad_el = out_el.where(
        (F.col("best_id") != F.col("doc_id") - (F.col("doc_id") % 3) + 1)
        | (F.col("best_score") != 0.9)
    ).count()
    n_el = out_el.count()
    # constant scores -> tie -> winner = min id = keep_id
    tied = select_cluster_representatives(
        clusters, scored_cl.select("id", F.lit(0.5).alias("q_score"))
    )
    bad_tie = tied.where(
        F.col("best_id") != F.col("doc_id") - (F.col("doc_id") % 3)
    ).count()
    elect_sec = round(time.time() - t0, 2)
    print(
        f"keep_best: {n_cl} docs / {n_cl // 3} clusters, "
        f"{bad_el} wrong winners, {bad_tie} wrong tie-breaks ({elect_sec}s)"
    )
    assert n_el == n_cl and bad_el == 0 and bad_tie == 0

    # ---- Misra-Gries top-k: heavy-tailed planted corpus far above the
    # sketch capacity. Keys: 20 planted heavies (id%1e5 < 20 -> key =
    # id%20, ~n/1e5 * 5000 each... simpler: key = id % 100000 gives 100k
    # distinct near-uniform keys, then 5% of rows are remapped to key
    # 10_000_000 + id % 10 — ten dominant keys, each with ~n/200 count,
    # ~1000x the singleton mass. k_track=256 (400x below cardinality):
    # the exact top-10 must be recovered, every estimate in the MG band,
    # and the pre-merge shuffle must carry <= partitions * k_track rows.
    from pysparkflow.operators.approxtopk import _mg_partition, misra_gries_topk

    t0 = time.time()
    heavy = spark.range(n_docs).select(
        F.when(
            F.col("id") % 20 == 0,
            (10_000_000 + F.floor(F.col("id") / 20) % 10).cast("long"),
        )
        .otherwise(F.col("id") % 100_000)
        .alias("k")
    )
    k_track = 256
    got = misra_gries_topk(heavy, "k", k_track=k_track, top_n=10).collect()
    n_heavy = heavy.count()
    bound = n_heavy // (k_track + 1)
    true_each = n_docs // 200  # each of the 10 planted keys
    assert sorted(r.k for r in got) == [10_000_000 + i for i in range(10)], got
    assert all(
        true_each - bound <= r.count_est <= true_each for r in got
    ), (got, true_each, bound)
    shuffled = (
        heavy.select(F.col("k").alias("_k"))
        .mapInPandas(_mg_partition(k_track), "_k long, _est long")
        .count()
    )
    n_parts = heavy.rdd.getNumPartitions()
    mg_sec = round(time.time() - t0, 2)
    print(
        f"approx_topk: 10/10 planted heavies exact-set at {n_heavy} rows / "
        f"~100k keys, bands hold (bound={bound}), pre-merge rows "
        f"{shuffled} <= {n_parts * k_track} ({mg_sec}s)"
    )
    assert shuffled <= n_parts * k_track

    out = {
        "n_docs": n_docs,
        "classify_sec": classify_sec,
        "mixture_sec": mixture_sec,
        "bloom_sec": bloom_sec,
        "bloom_join_rows": n_join,
        "bloom_pass_frac": round(frac_pass, 4),
        "mi_sec": mi_sec,
        "elect_sec": elect_sec,
        "total_sec": round(time.time() - t_all, 2),
        "mismatches": bad,
        "junk_survivors": n_junk,
        "worst_rate_dev": round(worst, 4),
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

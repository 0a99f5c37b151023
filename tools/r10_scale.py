"""Round-10 operator scale evidence with planted truth (SCALING.md):
the mixture_drift cross-snapshot dataset-card diff (VERDICT r9 #5).

Two planted snapshots built from the r9_scale corpus family (keep the
templates/score arithmetic in lockstep with tools/r9_scale.py):

* snapshot A: n docs, source = floor(id/2) % 8 (8 equal sources),
  text = fluent GOOD x (id%3 + 2) for even ids / junk BAD x (id%3 + 2)
  for odd ids — the quality gate keeps exactly the even half, each kept
  doc's score is one of three hand-computable values.
* snapshot B: the SAME ids with reps bumped to id%3 + 3 (every doc one
  template repetition longer — a realistic re-crawl that grew every
  page), PLUS a brand-new source "8" of n/8 extra docs (ids n..n+n/8,
  same parity/rep rules) — the "new feed appeared" case the FULL OUTER
  join must keep.
* the same CRT survivor plant as r9 in both snapshots (slot = id/2;
  slot % 5 == 3 loses to slot-1, slot % 5 == 2 wins), so per-source
  survivor_rate is 0.8 in both and its delta is exactly 0.

Closed-form per-source expectations for every drift column:

* sources 0..7: d_docs = 0, d_tokens = 11 * n/16 (kept docs' mean reps
  3 -> 4, 11 tokens per rep), d_gate_rate = 0, d_survivor_rate = 0,
  q_shift = the smoothed profile shift between the two hand-computed
  quantile triples (A: scores of GOOD x {2,3,4}; B: GOOD x {3,4,5})
  and q_w1 = their 3-point quantile Wasserstein. The planted scores
  SATURATE (~0.998-0.9996), so the quantiles move near-uniformly by
  ~1e-3: the closed forms demonstrate exactly the complementary-pair
  contract — q_shift (normalized shape) rounds to 0 at 6 dp while
  q_w1 (level) is a nonzero closed form (0.0004 = mean(8,2,2)e-4).
* source "8": n_total_a = 0, n_total_b = n/8, d_docs = n/8,
  d_tokens = 44 * n/16, d_gate_rate = 0.5, d_survivor_rate = 0.8,
  q_shift/q_w1 = the shifts from the all-null (coalesced-to-0)
  profile (q_w1 = mean of B's quantiles).

A single mismatching source fails the run. The drift join itself is
|sources|-row trivial; what this evidences at scale is the END-TO-END
composition — two full gate+report passes over millions of rows feeding
the diff — and the closed-form q_shift arithmetic at double precision.

Usage: python tools/r10_scale.py [n_docs] (default 2_400_000; rounded
down to a multiple of 240)
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from pysparkflow.llmops.quality_model import quality_classify
from pysparkflow.llmops.report import mixture_drift, mixture_report
from pysparkflow.session import get_spark

# lockstep with tools/r9_scale.py
GOOD = "the story of the day and the life of it all "
BAD = "tbl 99 x4 17 zz 42 "


def _hand_score(text: str) -> float:
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


def _expected_q_shift(qa, qb) -> float:
    """Reference smoothed 3-slot profile shift — textually parallel to
    llmops/report.py mixture_drift and the DuckDB oracle."""
    za = [x if x is not None else 0.0 for x in qa]
    zb = [x if x is not None else 0.0 for x in qb]
    sa, sb = za[0] + za[1] + za[2], zb[0] + zb[1] + zb[2]
    tot = 0.0
    for k in range(3):
        p = (zb[k] + 0.5) / (sb + 1.5)
        q = (za[k] + 0.5) / (sa + 1.5)
        tot += (p - q) * math.log(p / q)
    return round(tot, 6)


def _expected_q_w1(qa, qb) -> float:
    za = [x if x is not None else 0.0 for x in qa]
    zb = [x if x is not None else 0.0 for x in qb]
    return round(sum(abs(b - a) for a, b in zip(za, zb)) / 3.0, 6)


def _snapshot(spark, n_lo: int, n_hi: int, rep_off: int):
    """Docs with ids in [n_lo, n_hi): source floor(id/2)%8 below the
    base-corpus boundary passed via closure (ids >= BASE get source
    '8'), reps = id%3 + rep_off."""
    reps = (F.col("id") % 3 + rep_off).cast("int")
    return spark.range(n_lo, n_hi).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") >= _snapshot.base, F.lit("8"))
        .otherwise((F.floor(F.col("id") / 2) % 8).cast("string"))
        .alias("source"),
        F.when(F.col("id") % 2 == 0, F.repeat(F.lit(GOOD), reps))
        .otherwise(F.repeat(F.lit(BAD), reps))
        .alias("text"),
    )


def _survivors(spark, n_docs_total: int):
    slots = spark.range(n_docs_total // 2).select(F.col("id").alias("slot"))
    losers = slots.where(F.col("slot") % 5 == 3).select(
        (F.col("slot") * 2).alias("doc_id"),
        ((F.col("slot") - 1) * 2).alias("best_id"),
    )
    winners = slots.where(F.col("slot") % 5 == 2).select(
        (F.col("slot") * 2).alias("doc_id"),
        (F.col("slot") * 2).alias("best_id"),
    )
    return losers.unionByName(winners)


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 2_400_000
    n -= n % 240
    assert n >= 240
    _snapshot.base = n
    spark = get_spark(
        app_name="r10-scale", master="local[32]", shuffle_partitions=32
    )
    t_all = time.time()

    # the gate must classify every planted class the way the closed
    # forms assume — assert it on the actual score arithmetic
    for r in (2, 3, 4, 5):
        assert _hand_score(GOOD * r) >= 0.5, ("fluent rejected", r)
        assert _hand_score(BAD * r) < 0.5, ("junk accepted", r)

    docs_a = _snapshot(spark, 0, n, rep_off=2)
    docs_b = _snapshot(spark, 0, n + n // 8, rep_off=3)
    rep_a = mixture_report(docs_a, quality_classify(docs_a), _survivors(spark, n))
    rep_b = mixture_report(
        docs_b, quality_classify(docs_b), _survivors(spark, n + n // 8)
    )
    t0 = time.time()
    rows = {r["source"]: r for r in mixture_drift(rep_a, rep_b).collect()}
    drift_sec = round(time.time() - t0, 2)

    qa = tuple(round(v, 4) for v in sorted(_hand_score(GOOD * r) for r in (2, 3, 4)))
    qb = tuple(round(v, 4) for v in sorted(_hand_score(GOOD * r) for r in (3, 4, 5)))
    expect_07 = {
        "n_total_a": n // 8,
        "n_total_b": n // 8,
        "d_docs": 0,
        "d_tokens": 11 * (n // 16),
        "d_gate_rate": 0.0,
        "d_survivor_rate": 0.0,
        "q_shift": _expected_q_shift(qa, qb),
        "q_w1": _expected_q_w1(qa, qb),
    }
    expect_8 = {
        "n_total_a": 0,
        "n_total_b": n // 8,
        "d_docs": n // 8,
        "d_tokens": 44 * (n // 16),
        "d_gate_rate": 0.5,
        "d_survivor_rate": 0.8,
        "q_shift": _expected_q_shift((None,) * 3, qb),
        "q_w1": _expected_q_w1((None,) * 3, qb),
    }
    # the complementary-pair contract the saturated plant demonstrates:
    # near-uniform ~1e-3 level move -> shape score rounds to 0, W1 not
    assert expect_07["q_shift"] == 0.0 and expect_07["q_w1"] > 0
    assert len(rows) == 9, sorted(rows)
    n_bad = 0
    for src, r in rows.items():
        expect = expect_8 if src == "8" else expect_07
        got = {k: r[k] for k in expect}
        ok = all(
            abs(got[k] - expect[k])
            <= (1e-6 if k in ("q_shift", "q_w1") else 0)
            for k in expect
        )
        if not ok:
            n_bad += 1
            print(f"MISMATCH source={src}: {got} != {expect}")
    print(
        f"mixture_drift: {n} + {n + n // 8} docs, 8+1 sources, {n_bad} "
        f"mismatching sources (drift+reports {drift_sec}s; total "
        f"{round(time.time() - t_all, 2)}s); 0..7 q_shift="
        f"{expect_07['q_shift']} q_w1={expect_07['q_w1']}, new-source "
        f"q_shift={expect_8['q_shift']} q_w1={expect_8['q_w1']}"
    )
    assert n_bad == 0
    print("R10 SCALE EVIDENCE PASSED")
    return 0


if __name__ == "__main__":
    sys.exit(main())

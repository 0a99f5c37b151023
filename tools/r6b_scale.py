"""Round-6b operator scale evidence with planted/closed-form truth
(SCALING.md): gaps-and-islands, interval union, co-occurrence Jaccard,
nucleus selection, hash split.

Everything is generated IN SPARK (map-only, deterministic, no driver
data), and every check is closed-form exact:

* activity_islands at n_events: each user u in [0, U) is active on two
  planted streaks — days [1, 4] and [6, 5 + (u%3) + 1] of 2024-03 —
  with multiple events per active day (the distinct-days reduction must
  collapse them). Exactly 2 islands per user, lengths 4 and 1+(u%3).
* merge_intervals at n_events: per user, event k claims
  [k*10min, k*10min+25min) -> every consecutive pair overlaps, so ALL
  of a user's claims merge into EXACTLY ONE span whose n_intervals is
  the user's event count and whose width closes in minutes.
* cooccurrence_similarity: basket b = {b, b+1, b+2} over B baskets ->
  pair (i, i+1) co-occurs in exactly 2 baskets (interior), (i, i+2) in
  exactly 1; with min_count=2 the output is EXACTLY the interior
  consecutive pairs, each with J = 2/(3+3-2) = 0.5 (interior items have
  degree 3).
* nucleus_select: values 10.00 for ids [0, heavy) and 0.01 for the long
  tail; heavy mass is > p% of the total by construction -> the kept set
  is an exact prefix of the heavy ids, count computable in closed form.
* hash_split at n_events ids: split rates within 0.5% of 80/10/10 and
  the assignment is total (train+val+test == n).

Usage: python tools/r6b_scale.py [n_events] [n_baskets]
       (defaults 5_000_000, 2_000_000)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from pysparkflow.llmops.sampling import hash_split, nucleus_select
from pysparkflow.operators.cooccurrence import cooccurrence_similarity
from pysparkflow.operators.timeseries import activity_islands, merge_intervals
from pysparkflow.session import get_spark


def main() -> int:
    n_events = int(sys.argv[1]) if len(sys.argv) > 1 else 5_000_000
    n_baskets = int(sys.argv[2]) if len(sys.argv) > 2 else 2_000_000
    spark = get_spark(app_name="pysparkflow-r6b-scale")
    out: dict = {"n_events": n_events, "n_baskets": n_baskets}

    # --- activity_islands: two planted streaks per user ----------------
    # users = n_events / 16; each user: streak A = days 1-4, streak B =
    # days 6..6+(u%3); every active day carries 2+ events at different
    # hours (16 events per user: 8 on streak A days x2, rest on B)
    t0 = time.time()
    n_users = max(1, n_events // 16)
    u = spark.range(n_events).select(
        (F.col("id") % n_users).alias("user_id"),
        (F.col("id") / n_users).cast("long").alias("k"),  # 0..15 per user
    )
    blen = (F.col("user_id") % 3) + 1  # streak B length 1..3
    day = F.when(F.col("k") < 8, 1 + F.col("k") % 4).otherwise(
        6 + F.col("k") % blen
    )
    ev = u.select(
        "user_id",
        F.to_timestamp(
            F.concat(
                F.lit("2024-03-"),
                F.lpad(day.cast("string"), 2, "0"),
                F.lit(" "),
                F.lpad((F.col("k") % 24).cast("string"), 2, "0"),
                F.lit(":00:00"),
            )
        ).alias("ts"),
    )
    isl = activity_islands(ev, min_days=1).persist()
    n_islands = isl.count()
    per_user = isl.groupBy("user_id").agg(
        F.count("*").alias("n"), F.sum("n_days").alias("days")
    )
    bad_count = per_user.where(F.col("n") != 2).count()
    # total days per user = 4 + (u%3 in {1,2,3})
    bad_days = per_user.where(
        F.col("days") != 4 + (F.col("user_id") % 3 + 1)
    ).count()
    out["activity_islands"] = {
        "sec": round(time.time() - t0, 1),
        "islands": n_islands,
        "users_wrong_island_count": bad_count,
        "users_wrong_day_total": bad_days,
    }
    assert n_islands == 2 * n_users and bad_count == 0 and bad_days == 0, (
        out["activity_islands"]
    )
    isl.unpersist()

    # --- merge_intervals: per-user chain collapses to ONE span ---------
    t0 = time.time()
    iv = u.select(
        "user_id",
        F.timestamp_seconds(
            F.lit(1_700_000_000) + F.col("k") * 600
        ).alias("start"),
        F.timestamp_seconds(
            F.lit(1_700_000_000) + F.col("k") * 600 + 1500
        ).alias("end"),
    )
    spans = merge_intervals(iv).persist()
    n_spans = spans.count()
    bad_width = spans.where(
        F.unix_timestamp("span_end") - F.unix_timestamp("span_start")
        != (F.col("n_intervals") - 1) * 600 + 1500
    ).count()
    out["merge_intervals"] = {
        "sec": round(time.time() - t0, 1),
        "spans": n_spans,
        "bad_width": bad_width,
    }
    assert n_spans == n_users and bad_width == 0, out["merge_intervals"]
    spans.unpersist()

    # --- cooccurrence: sliding baskets -> interior consecutive pairs ---
    t0 = time.time()
    baskets = (
        spark.range(n_baskets)
        .select(
            F.col("id").alias("b"),
            F.explode(
                F.array(F.col("id"), F.col("id") + 1, F.col("id") + 2)
            ).alias("i"),
        )
    )
    sim = cooccurrence_similarity(baskets, "b", "i", min_count=2).persist()
    n_pairs = sim.count()
    # pair (i, i+1) needs baskets i-1 AND i valid -> i in [1, B-1]:
    # exactly B-1 pairs, all with co_count 2. Interior items have
    # degree 3 -> J = 2/(3+3-2) = 0.5; the two boundary pairs (i=1 and
    # i=B-1) each have one degree-2 endpoint -> J = 2/(2+3-2) = 2/3.
    bad = sim.where(
        (F.col("item_b") != F.col("item_a") + 1) | (F.col("co_count") != 2)
    ).count()
    n_half = sim.where(F.col("jaccard") == 0.5).count()
    n_edge = sim.where(F.col("jaccard") == 2 / 3).count()
    out["cooccurrence"] = {
        "sec": round(time.time() - t0, 1),
        "pairs": n_pairs,
        "bad": bad,
        "j_half": n_half,
        "j_edge": n_edge,
    }
    assert (
        n_pairs == n_baskets - 1
        and bad == 0
        and n_edge == 2
        and n_half == n_pairs - 2
    ), out["cooccurrence"]
    sim.unpersist()

    # --- nucleus_select: heavy prefix is exact -------------------------
    t0 = time.time()
    heavy = 1000
    vals = spark.range(n_events).select(
        F.lit("g").alias("t"),
        F.col("id").alias("i"),
        F.when(F.col("id") < heavy, F.lit(10.0)).otherwise(F.lit(0.01)).alias("v"),
    )
    # total = 10*heavy + 0.01*(n-heavy); pick p so the cut lands strictly
    # inside the heavy block: p% of total < 10*heavy
    total = 10.0 * heavy + 0.01 * (n_events - heavy)
    p = 10
    # kept rows are those with cum_before < target; when the target lands
    # EXACTLY on a heavy-row boundary the crossing row is the one that
    # reaches it, so no extra row is included (ADVICE r6: the former
    # unconditional +1 false-failed when total*p/100 was a multiple of 10)
    target = total * p / 100
    expected = int(target // 10) + (1 if target % 10 else 0)
    kept = nucleus_select(vals, "t", "i", "v", p_pct=p).persist()
    n_kept = kept.count()
    max_id = kept.agg(F.max("id")).first()[0]
    out["nucleus_select"] = {
        "sec": round(time.time() - t0, 1),
        "kept": n_kept,
        "expected": expected,
        "max_id": max_id,
    }
    assert n_kept == expected and max_id == expected - 1, out["nucleus_select"]
    kept.unpersist()

    # --- hash_split: rates + totality ----------------------------------
    t0 = time.time()
    docs = spark.range(n_events).select(F.col("id").alias("doc_id"))
    rates = {
        r["split"]: r["n"]
        for r in hash_split(docs).groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    tot = sum(rates.values())
    out["hash_split"] = {
        "sec": round(time.time() - t0, 1),
        "rates": {k: round(v / n_events, 4) for k, v in rates.items()},
        "total": tot,
    }
    assert tot == n_events, out["hash_split"]
    assert abs(rates["train"] / n_events - 0.80) < 0.005, out["hash_split"]
    assert abs(rates["val"] / n_events - 0.10) < 0.005, out["hash_split"]
    assert abs(rates["test"] / n_events - 0.10) < 0.005, out["hash_split"]

    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

"""Streaming scale evidence (VERDICT r4 #7): the graded streaming entries
only ever see ~150k events (sf0.1), which says nothing about state-store
growth or throughput on a real firehose. This harness generates a
multi-file event stream (default 10M events over 30 days, one file per
day, several micro-batches via maxFilesPerTrigger) and drives the four
stateful operator families over it with a noop sink, reporting per-op:

  - wall seconds, input rows, rows/sec
  - PEAK state-store rows across all micro-batches (the number that must
    stay bounded on an unbounded stream)
  - sink output rows

The point of the measurement is the SHAPE: state peaks at the
watermark-horizon working set (open windows / open sessions / in-horizon
join rows / active keys), not at anything proportional to total input —
the 100 TB contract. Results are recorded in SCALING.md.

Usage: python tools/stream_scale.py [n_events]   (default 10_000_000;
       use 200_000 as a fast smoke)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from pysparkflow.session import get_spark

DAYS = 30
BASE_TS = "2024-01-01 00:00:00"


def generate(spark, out_dir: str, n_events: int) -> None:
    """One parquet file per simulated day, written in time order so the
    file-stream source's batches advance the watermark monotonically.
    Deterministic: everything derives from the row id."""
    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir)
    # write native timestamp[us] (Spark's default INT96 is neither of the
    # encodings the adaptive events scan handles)
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    per = n_events // DAYS
    n_users = max(1000, n_events // 50)
    for d in range(DAYS):
        df = (
            spark.range(d * per, (d + 1) * per)
            .select(
                F.col("id").alias("event_id"),
                (
                    F.to_timestamp(F.lit(BASE_TS))
                    + F.make_interval(
                        secs=(
                            F.lit(d * 86400)
                            # spread within the day, deterministic pseudo-order
                            + F.pmod(F.xxhash64("id"), F.lit(86400))
                            + F.pmod(F.xxhash64("id", F.lit(1)), F.lit(1000)) / 1000.0
                        )
                    )
                ).alias("ts"),
                F.pmod(F.xxhash64("id", F.lit(2)), F.lit(n_users)).alias("user_id"),
                F.element_at(
                    F.array(F.lit("click"), F.lit("view"), F.lit("purchase")),
                    (
                        F.when(F.pmod(F.xxhash64("id", F.lit(3)), F.lit(10)) < 1, 3)
                        .when(F.pmod(F.xxhash64("id", F.lit(3)), F.lit(10)) < 6, 1)
                        .otherwise(2)
                    ).cast("int"),
                ).alias("event_type"),
                (F.pmod(F.xxhash64("id", F.lit(4)), F.lit(10000)) / 100.0).alias(
                    "value"
                ),
                F.lit(None).cast("string").alias("props"),
            )
        )
        tmp = f"{out_dir}/_tmp_slice"
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
        shutil.move(f"{tmp}/{part}", f"{out_dir}/day_{d:03d}.parquet")
        shutil.rmtree(tmp)


def _stream(spark, data_dir: str, files_per_trigger: int):
    from pysparkflow.streaming.events import adaptive_events_scan

    schema, finish = adaptive_events_scan(spark, data_dir)
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(files_per_trigger))
        .format("parquet")
        .load(data_dir)
    )
    return finish(raw)


def drive(df, name: str) -> dict:
    """Run a streaming plan to completion on the noop sink and summarize
    its progress events."""
    q = df.writeStream.outputMode("append").format("noop").queryName(name).start()
    t0 = time.time()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    wall = time.time() - t0
    progresses = [json.loads(p) if isinstance(p, str) else p for p in q.recentProgress]
    in_rows = sum(p.get("numInputRows", 0) for p in progresses)
    out_rows = sum(
        p.get("sink", {}).get("numOutputRows", 0)
        for p in progresses
        if p.get("sink", {}).get("numOutputRows", -1) >= 0
    )
    peak_state = 0
    for p in progresses:
        tot = sum(op.get("numRowsTotal", 0) for op in p.get("stateOperators", []))
        peak_state = max(peak_state, tot)
    return {
        "op": name,
        "wall_sec": round(wall, 1),
        "batches": len(progresses),
        "input_rows": in_rows,
        "rows_per_sec": round(in_rows / wall) if wall > 0 else None,
        "peak_state_rows": peak_state,
        "sink_rows": out_rows,
    }


def main() -> None:
    n_events = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000
    data_dir = os.environ.get("STREAM_SCALE_DIR", "/tmp/stream_scale_data")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(
        app_name="stream-scale", master=f"local[{cpus}]", shuffle_partitions=cpus
    )
    marker = f"{data_dir}/.n_{n_events}"
    if not os.path.exists(marker):
        print(f"[gen] {n_events} events over {DAYS} day-files -> {data_dir}")
        generate(spark, data_dir, n_events)
        open(marker, "w").write("")
    results = []

    from pysparkflow.streaming.events import (
        sessionized_event_counts,
        stream_stream_purchase_left_join,
        windowed_event_counts,
    )

    # 1) watermarked tumbling-window aggregation (1h windows, 2h delay):
    #    state = open windows x event_types, evicted as watermark passes
    s = _stream(spark, data_dir, files_per_trigger=3)
    results.append(drive(windowed_event_counts(s, "1 hour", "2 hours"), "windowed"))
    print(json.dumps(results[-1]))

    # 2) session windows (30 min gap per user): state = OPEN sessions only
    s = _stream(spark, data_dir, files_per_trigger=3)
    results.append(drive(sessionized_event_counts(s, "30 minutes", "2 hours"), "sessions"))
    print(json.dumps(results[-1]))

    # 3) stream-stream LEFT OUTER interval join: state = both sides'
    #    in-horizon rows; every click resolves matched-or-null
    s = _stream(spark, data_dir, files_per_trigger=3)
    clicks = s.where(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts"), F.col("event_id").alias("click_id")
    )
    purchases = s.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.round("value", 2).alias("p_value"),
    )
    results.append(
        drive(stream_stream_purchase_left_join(clicks, purchases), "outer_join")
    )
    print(json.dumps(results[-1]))

    # 4) custom stateful op (applyInPandasWithState running counts,
    #    1-day idle eviction): state = keys active within one horizon
    from pysparkflow.streaming.stateful import running_event_counts

    s = _stream(spark, data_dir, files_per_trigger=3)
    results.append(
        drive(
            running_event_counts(s, state_horizon="1 day", watermark_delay="2 hours"),
            "stateful_counts",
        )
    )
    print(json.dumps(results[-1]))

    print(json.dumps({"n_events": n_events, "results": results}))


if __name__ == "__main__":
    main()

"""Structural cost probe: run registry queries with the Spark event log
enabled and report DETERMINISTIC totals — jobs, stages, tasks, shuffle
read/write bytes, broadcast count — per query. Noise-immune A/B evidence
for plan-shape changes (the wall-clock on this host whipsaws up to 5x;
shuffle bytes do not).

Usage: python tools/opt_shuffle_probe.py <out.json> [query ...]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from pysparkflow.engine.cache import release_tracked
from pysparkflow.relational.registry import QUERIES, TABLES, load_table
from pysparkflow.session import get_spark


def events_file(log_dir: str) -> str:
    """The one application's event log under ``log_dir``. Spark 4
    event-log v2 layout: a directory per app holding events_1_<app>
    plus an appstatus marker file."""
    entry = next(
        os.path.join(log_dir, f)
        for f in os.listdir(log_dir)
        if not f.startswith(".")
    )
    if os.path.isdir(entry):
        return next(
            os.path.join(entry, f)
            for f in sorted(os.listdir(entry))
            if f.startswith("events_")
        )
    return entry


def parse_eventlog(path: str) -> dict:
    jobs = stages = tasks = 0
    sh_read = sh_write = 0
    input_bytes = 0
    cpu_ns = run_ms = 0
    gc_ms = fetch_ms = wrt_ns = deser_ms = rser_ms = 0
    for line in open(path):
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue
        e = ev.get("Event")
        if e == "SparkListenerJobStart":
            jobs += 1
        elif e == "SparkListenerStageCompleted":
            stages += 1
            si = ev.get("Stage Info", {})
            tasks += si.get("Number of Tasks", 0)
        elif e == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            sh_read += (m.get("Shuffle Read Metrics") or {}).get(
                "Remote Bytes Read", 0
            ) + (m.get("Shuffle Read Metrics") or {}).get("Local Bytes Read", 0)
            sh_write += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            cpu_ns += m.get("Executor CPU Time", 0)
            run_ms += m.get("Executor Run Time", 0)
            gc_ms += m.get("JVM GC Time", 0)
            fetch_ms += (m.get("Shuffle Read Metrics") or {}).get(
                "Fetch Wait Time", 0
            )
            wrt_ns += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Write Time", 0
            )
            deser_ms += m.get("Executor Deserialize Time", 0)
            rser_ms += m.get("Result Serialization Time", 0)
    return {
        "jobs": jobs,
        "stages": stages,
        "tasks": tasks,
        "shuffle_read_mb": round(sh_read / 1e6, 2),
        "shuffle_write_mb": round(sh_write / 1e6, 2),
        "input_mb": round(input_bytes / 1e6, 2),
        # total executor work (sum over tasks): CPU time measures cycles
        # actually burned, far less host-noise-sensitive than wall clock
        "executor_cpu_sec": round(cpu_ns / 1e9, 2),
        "executor_run_sec": round(run_ms / 1e3, 2),
        # run - cpu attribution (all sums over tasks): where blocked
        # task time goes — GC, shuffle fetch waits, shuffle spill/write,
        # task deserialize, result serialize
        "jvm_gc_sec": round(gc_ms / 1e3, 2),
        "fetch_wait_sec": round(fetch_ms / 1e3, 2),
        "shuffle_write_sec": round(wrt_ns / 1e9, 2),
        "task_deser_sec": round(deser_ms / 1e3, 2),
        "result_ser_sec": round(rser_ms / 1e3, 2),
    }


def main() -> None:
    out_path = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    results: dict[str, dict] = {}
    for name in names:
        log_dir = tempfile.mkdtemp(prefix=f"evlog-{name}-")
        spark = get_spark(
            app_name=f"probe-{name}",
            extra_conf={
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{log_dir}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            },
        )
        # warm like the bench so memo/caches don't pollute the measured query
        spark.range(5_000_000).groupBy((F.col("id") % 16).alias("k")).count().collect()
        for t in TABLES:
            load_table(spark, sf_dir, t).count()
        base_log = events_file(log_dir)
        with open(base_log) as fh:
            warm_lines = sum(1 for _ in fh)
        df = QUERIES[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        release_tracked()
        spark.stop()
        base_log = events_file(log_dir)  # .inprogress renamed on stop
        # drop the warmup prefix: parse only events after the warm point
        full = open(base_log).readlines()
        with open(base_log + ".q", "w") as fh:
            fh.writelines(full[warm_lines:])
        results[name] = parse_eventlog(base_log + ".q")
        print(name, results[name], file=sys.stderr)
    with open(out_path, "w") as fh:
        json.dump(results, fh, indent=1)
        fh.write("\n")


if __name__ == "__main__":
    main()

"""One-session per-query executor-CPU sweep (r13 optimization round).

Wall-clock on this host whipsaws up to 5x with neighbor load; executor
CPU time (cycles actually burned, summed over tasks) is far more
stable, so it is the cost map used to rank optimization targets and to
A/B structural changes. One Spark session, bench-like warmup, queries
run in BENCH order (memo interplay identical to the bench), noop sink,
release_tracked between queries; per-query numbers come from slicing
the event log at line offsets snapshotted between queries.

Usage: python tools/opt_cpu_sweep.py <out.json> [query ...]
(no names = every bench query, in bench order)
"""

from __future__ import annotations

import importlib.util
import json
import os
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F

from pysparkflow.engine.cache import release_tracked
from pysparkflow.relational.registry import QUERIES, TABLES, load_table
from pysparkflow.session import get_spark
from tools.opt_shuffle_probe import events_file, parse_eventlog


def _load_bench():
    spec = importlib.util.spec_from_file_location("bench", REPO / "bench.py")
    mod = importlib.util.module_from_spec(spec)
    sys.modules["bench"] = mod
    spec.loader.exec_module(mod)
    return mod


def main() -> None:
    out_path = sys.argv[1]
    names = sys.argv[2:]
    bench = _load_bench()
    if not names:
        names = list(bench.BENCH_QUERIES)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    log_dir = tempfile.mkdtemp(prefix="evlog-sweep-")
    spark = get_spark(
        app_name="opt-cpu-sweep",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    # bench-identical warmup
    spark.range(5_000_000).groupBy((F.col("id") % 16).alias("k")).count().collect()
    spark.createDataFrame([(1,)], "x int").mapInPandas(
        lambda it: it, "x int"
    ).collect()
    for t in TABLES:
        load_table(spark, sf_dir, t).count()
    bench._warm_streaming(spark)

    from pysparkflow.relational.registry import clear_flow_memos

    marks: list[tuple[str, int, float]] = []  # (name, start_line, wall)
    evf = events_file(log_dir)

    def _lines() -> int:
        with open(evf) as fh:
            return sum(1 for _ in fh)

    for name in names:
        if name in bench.MIN_OF_2_ALWAYS:
            clear_flow_memos()
        # the event-log listener bus is asynchronous: without draining
        # it, a query's tail task-end events can flush after the line
        # snapshot and be attributed to the NEXT query (ADVICE r13)
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        start = _lines()
        t0 = time.time()
        df = QUERIES[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        wall = round(time.time() - t0, 3)
        release_tracked()
        marks.append((name, start, wall))
        print(f"[sweep] {name}: {wall}s", file=sys.stderr)
    spark.stop()
    evf = events_file(log_dir)  # .inprogress renamed on stop
    full = open(evf).readlines()
    results: dict[str, dict] = {}
    for i, (name, start, wall) in enumerate(marks):
        end = marks[i + 1][1] if i + 1 < len(marks) else len(full)
        with open(evf + ".q", "w") as fh:
            fh.writelines(full[start:end])
        results[name] = parse_eventlog(evf + ".q")
        results[name]["wall_sec"] = wall
    with open(out_path, "w") as fh:
        json.dump(results, fh, indent=1)
        fh.write("\n")


if __name__ == "__main__":
    main()

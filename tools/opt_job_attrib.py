"""Per-JOB attribution for registry queries: runs each named query with
the event log on and prints every Spark job's callsite/description plus
task count — the "where do this entry's N jobs come from" answer that
the per-query totals of opt_shuffle_probe.py cannot give. ``py`` counts
the job's tasks in stages that scan a PythonRDD (a DataFrame built from
a Python list): each such task runs in a Python worker, so a list-built
frame that re-enters a hot plan shows up there.

Usage: python tools/opt_job_attrib.py <out.json> [query ...]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pysparkflow.engine.cache import release_tracked
from pysparkflow.relational.registry import QUERIES, clear_flow_memos, clear_pair_memos
from pysparkflow.session import get_spark
from tools.opt_shuffle_probe import events_file


def main() -> None:
    out_path = sys.argv[1]
    names = sys.argv[2:]
    log_dir = tempfile.mkdtemp(prefix="attrib-evlog-")
    spark = get_spark(
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    )
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    log_file = events_file(log_dir)

    def _jobs_since(offset: int) -> tuple[list[dict], int]:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        rows: dict[int, dict] = {}
        stage_tasks: dict[int, int] = {}
        py_stage_tasks: dict[int, int] = {}
        stage_of_job: dict[int, list[int]] = {}
        with open(log_file) as fh:
            lines = fh.readlines()
        for ln in lines[offset:]:
            try:
                ev = json.loads(ln)
            except json.JSONDecodeError:
                continue
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                rows[jid] = {
                    "job": jid,
                    "desc": props.get("spark.job.description")
                    or props.get("callSite.short", ""),
                    "callsite": props.get("callSite.short", ""),
                    "tasks": 0,
                    "py_tasks": 0,
                }
                stage_of_job[jid] = [
                    s.get("Stage ID") for s in ev.get("Stage Infos", [])
                ]
            elif e == "SparkListenerStageCompleted":
                si = ev.get("Stage Info", {})
                stage_tasks[si.get("Stage ID")] = si.get("Number of Tasks", 0)
                if any(r.get("Name") == "PythonRDD" for r in si.get("RDD Info", [])):
                    py_stage_tasks[si.get("Stage ID")] = si.get("Number of Tasks", 0)
        for jid, sids in stage_of_job.items():
            rows[jid]["tasks"] = sum(stage_tasks.get(s, 0) for s in sids)
            rows[jid]["py_tasks"] = sum(py_stage_tasks.get(s, 0) for s in sids)
        return list(rows.values()), len(lines)

    offset = 0
    report: dict[str, list[dict]] = {}
    for name in names:
        clear_flow_memos()
        clear_pair_memos()
        _, offset = _jobs_since(offset)  # drain anything pending
        df = QUERIES[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        release_tracked()
        jobs, offset = _jobs_since(offset)
        report[name] = jobs
        py_tasks = sum(j["py_tasks"] for j in jobs)
        print(f"== {name}: {len(jobs)} jobs, {py_tasks} PythonRDD tasks")
        for j in jobs:
            print(
                f"   job {j['job']:>4}  tasks {j['tasks']:>5}  py {j['py_tasks']:>3}"
                f"  {j['callsite']}"
            )
    with open(out_path, "w") as fh:
        json.dump(report, fh, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()

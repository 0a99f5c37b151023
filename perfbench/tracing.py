"""Spans recorded by the benchmark and Spark event-log attribution.

A span is one timed region of the benchmark (a setup, a graph load, a
query), kept in memory as (id, name, start, end, parent) and written out
when the run ends. The end-to-end metrics are read off the spans; in a
traced run the Spark event log is read afterwards and every job, stage
and task is charged to the innermost span open when its job was
submitted. Attribution goes by submission time, not by job group, so
jobs that the library submits from its own pool threads (which carry no
job group) land in the right span too.
"""

from __future__ import annotations

import json
import math
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float  # epoch seconds, the clock Spark's event log uses
    end: float
    parent: int | None
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Spans:
    """In-memory span recorder; nesting follows the `with` blocks."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._open[-1] if self._open else None
        s = Span(len(self.spans), name, time.time(), math.nan, parent, attrs)
        self.spans.append(s)
        self._open.append(s.id)
        try:
            yield s
        finally:
            s.end = time.time()
            self._open.pop()

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh, indent=1)


@dataclass
class SpanCost:
    """Spark work charged to one span."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    job_intervals: list[tuple[float, float]] = field(default_factory=list)
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    input_bytes: int = 0

    def driver_only_s(self, span: Span) -> float:
        """Span wall minus the union of its jobs' submit-to-end intervals:
        the time no job of this span was running."""
        busy = 0.0
        cur_lo = cur_hi = None
        for lo, hi in sorted(self.job_intervals):
            lo, hi = max(lo, span.start), min(hi, span.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    busy += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            busy += cur_hi - cur_lo
        return max(span.wall - busy, 0.0)


def read_event_log(log_dir: str) -> list[dict]:
    """Every event of every application log under ``log_dir``. The logs
    must be written uncompressed and non-rolling (one JSON object per
    line per application file)."""
    events = []
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        if not os.path.isfile(path) or name.startswith("."):
            continue
        with open(path) as fh:
            for line in fh:
                try:
                    events.append(json.loads(line))
                except json.JSONDecodeError:
                    continue  # a torn last line of a log still in progress
    return events


def innermost_span(spans: list[Span], t: float) -> Span | None:
    """The latest-starting span whose interval holds ``t``; spans nest,
    so that is the innermost one."""
    best = None
    for s in spans:
        if s.start <= t <= s.end and (best is None or s.start >= best.start):
            best = s
    return best


def attribute(events: list[dict], spans: list[Span]) -> dict[int, SpanCost]:
    """Charge jobs, stages and tasks to spans by job submission time."""
    costs: dict[int, SpanCost] = {}
    span_of_job: dict[int, int] = {}
    job_of_stage: dict[int, int] = {}
    submitted: dict[int, float] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            t = ev["Submission Time"] / 1000.0
            for sid in ev.get("Stage IDs", []):
                job_of_stage.setdefault(sid, jid)  # first job to list it runs it
            s = innermost_span(spans, t)
            if s is None:
                continue
            span_of_job[jid] = s.id
            submitted[jid] = t
            costs.setdefault(s.id, SpanCost()).jobs += 1
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in span_of_job:
                costs[span_of_job[jid]].job_intervals.append(
                    (submitted[jid], ev["Completion Time"] / 1000.0)
                )
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            span_id = span_of_job.get(job_of_stage.get(sid, -1))
            if span_id is not None:
                costs[span_id].stages += 1
        elif kind == "SparkListenerTaskEnd":
            span_id = span_of_job.get(job_of_stage.get(ev.get("Stage ID"), -1))
            if span_id is None:
                continue
            c = costs[span_id]
            c.tasks += 1
            m = ev.get("Task Metrics") or {}
            c.executor_run_s += m.get("Executor Run Time", 0) / 1e3
            c.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            c.gc_s += m.get("JVM GC Time", 0) / 1e3
            rd = m.get("Shuffle Read Metrics") or {}
            c.shuffle_read_bytes += rd.get("Remote Bytes Read", 0) + rd.get(
                "Local Bytes Read", 0
            )
            c.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            c.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    return costs

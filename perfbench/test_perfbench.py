"""Tests for the benchmark's own logic (no Spark needed).

Run from the repository root: python3 -m pytest perfbench -q
"""

from __future__ import annotations

import itertools
import json
import os
import random

import networkx as nx
import pytest

import oracle
import run
import workloads
from tracing import Span, Spans, attribute, read_event_log

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _job_start(jid, t, stages, props=None):
    return {
        "Event": "SparkListenerJobStart",
        "Job ID": jid,
        "Submission Time": int(t * 1000),
        "Stage IDs": stages,
        "Properties": props or {},
    }


def _job_end(jid, t):
    return {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": int(t * 1000)}


def _stage_done(sid):
    return {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": sid}}


def _task_end(sid, run_ms=0, cpu_ns=0, shuffle_write=0, input_bytes=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": sid,
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": 0,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 7},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_write},
            "Input Metrics": {"Bytes Read": input_bytes},
        },
    }


def _spans():
    # run [0, 100] > pass [10, 90] > query a [20, 50], query b [50, 80]
    return [
        Span(0, "run", 0.0, 100.0, None),
        Span(1, "pass", 10.0, 90.0, 0),
        Span(2, "query", 20.0, 50.0, 1),
        Span(3, "query", 50.5, 80.0, 1),
    ]


def test_jobs_charged_to_innermost_span_by_submission_time():
    events = [
        # main-thread job carrying the benchmark's job group
        _job_start(0, 25, [0], {"spark.jobGroup.id": "query-2"}),
        # pool-thread job: no job group, re-lists stage 0 (skipped there)
        _job_start(1, 30, [1, 0]),
        _job_end(0, 28),
        _stage_done(0),
        _task_end(0, run_ms=1500, cpu_ns=10**9, input_bytes=100),
        _task_end(0, run_ms=500, cpu_ns=10**9, input_bytes=100),
        _stage_done(1),
        _task_end(1, run_ms=1000, shuffle_write=64),
        _job_end(1, 40),
        _job_start(2, 60, [2]),
        _stage_done(2),
        _task_end(2),
        _job_end(2, 70),
        _job_start(3, 95, [3]),  # after the pass: belongs to the run span
        _job_end(3, 96),
        _job_start(4, 200, [4]),  # outside every span: not charged
        _job_end(4, 201),
    ]
    spans = _spans()
    costs = attribute(events, spans)
    a, b = costs[2], costs[3]
    assert (a.jobs, a.stages, a.tasks) == (2, 2, 3)
    assert a.executor_run_s == pytest.approx(3.0)
    assert a.executor_cpu_s == pytest.approx(2.0)
    assert a.shuffle_read_bytes == 21
    assert a.shuffle_write_bytes == 64
    assert a.input_bytes == 200
    assert (b.jobs, b.stages, b.tasks) == (1, 1, 1)
    assert costs[0].jobs == 1
    assert 1 not in costs
    assert sum(c.jobs for c in costs.values()) == 4
    # span a is 30 s long; jobs ran during [25, 28] and [30, 40]
    assert a.driver_only_s(spans[2]) == pytest.approx(17.0)
    assert b.driver_only_s(spans[3]) == pytest.approx(29.5 - 10.0)


def test_driver_only_merges_overlapping_and_clips_jobs():
    span = Span(0, "query", 10.0, 20.0, None)
    cost = attribute(
        [
            _job_start(0, 11, [0]),
            _job_start(1, 12, [1]),  # concurrent with job 0
            _job_end(0, 15),
            _job_end(1, 14),
            _job_start(2, 18, [2]),
            _job_end(2, 25),  # ends after the span: clipped at 20
        ],
        [span],
    )[0]
    assert cost.driver_only_s(span) == pytest.approx(10.0 - 4.0 - 2.0)


def test_read_event_log_skips_torn_lines(tmp_path):
    lines = [json.dumps(_job_start(0, 1, [0])), json.dumps(_job_end(0, 2)), '{"Event": "Spark']
    (tmp_path / "app-1").write_text("\n".join(lines))
    (tmp_path / ".app-1.crc").write_text("ignored")
    assert [e["Event"] for e in read_event_log(str(tmp_path))] == [
        "SparkListenerJobStart",
        "SparkListenerJobEnd",
    ]


def test_spans_nest_and_close():
    spans = Spans()
    with spans.span("pass"):
        with spans.span("query", n=1):
            pass
    p, q = spans.spans
    assert q.parent == p.id and p.parent is None
    assert p.start <= q.start <= q.end <= p.end
    assert q.attrs == {"n": 1}


def test_warm_up_stays_out_of_the_figures():
    r = run.Run(workloads.WORKLOADS["bfs-smallworld"], 1, 1.0, False)
    with r.spans.span("setup"):
        pass
    with r.spans.span("warmup"):
        for name in ("load", "query"):
            with r.spans.span(name):
                pass
    for _ in range(2):
        with r.spans.span("pass"):
            for name in ("load", "query", "query", "load"):
                with r.spans.span(name):
                    pass
    for s in r.spans.spans:  # the set-up and warm-up ones take 9 s each
        warm = s.parent is None or r.spans.spans[s.parent].name == "warmup"
        s.end = s.start + (9.0 if warm else {"load": 0.5, "query": 2.0}.get(s.name, 0.0))
    assert len(r.timed("query")) == 4 and len(r.timed("load")) == 4
    assert r.end_to_end() == {
        "setup_s": 9.0,
        "load_s": 0.5,
        "query_s.p50": 2.0,
        "run_s": 0.5 + 2 * 2.0,
    }


def test_flow_mismatch_rejects_a_wrong_value():
    assert oracle.flow_mismatch(89, 89) is None
    assert oracle.flow_mismatch(88, 89) is not None
    assert oracle.flow_mismatch(90, 89) is not None
    assert oracle.flow_mismatch(None, 89) is not None
    assert oracle.flow_mismatch(True, 1) is not None


def test_bfs_mismatch_compares_the_whole_set():
    want = {1: 1, 2: 2, 3: 3}
    assert oracle.bfs_mismatch([(1, 1), (2, 2), (3, 3)], want) is None
    assert oracle.bfs_mismatch([(1, 1), (2, 2), (3, 2)], want) is not None
    assert oracle.bfs_mismatch([(1, 1), (2, 2)], want) is not None
    assert oracle.bfs_mismatch([(1, 1), (2, 2), (3, 3), (4, 4)], want) is not None
    assert oracle.bfs_mismatch([(1, 1), (2, 2), (3, 3), (3, 3)], want) is not None


def test_flow_oracle_matches_networkx_maximum_flow_value():
    rng = random.Random(5)
    pairs = [(rng.randrange(40), rng.randrange(40)) for _ in range(160)]
    edges = oracle.canonical_edges(pairs)
    fo = oracle.FlowOracle(edges)
    for _ in range(8):  # repeated queries on one residual network
        terms = rng.sample(range(40), 5)
        sources, sinks = terms[:2], terms[2:]
        g = nx.Graph()
        g.add_edges_from(edges, capacity=1)
        g.add_edges_from((("s", x) for x in sources), capacity=10**6)
        g.add_edges_from(((x, "t") for x in sinks), capacity=10**6)
        assert fo.max_flow_value(sources, sinks) == nx.maximum_flow_value(g, "s", "t")


def test_repeated_pairs_do_not_add_capacity():
    # two parallel pairs and a self-loop: still a single unit edge
    edges = oracle.canonical_edges([(1, 2), (2, 1), (1, 2), (3, 3)])
    assert edges == {(1, 2)}
    assert oracle.FlowOracle(edges).max_flow_value([1], [2]) == 1


def test_bfs_oracle_counts_sources_as_distance_one():
    dist = oracle.bfs_distances({(1, 2), (2, 3), (7, 8)}, [1])
    assert dist == {1: 1, 2: 2, 3: 3}


def test_inputs_follow_the_seed():
    a, b = workloads.lineitem_pairs(3), workloads.lineitem_pairs(3)
    assert a.equals(b)
    assert not a.equals(workloads.lineitem_pairs(4))
    first = list(itertools.islice(workloads.lineitem_queries(3), 3))
    assert first == list(itertools.islice(workloads.lineitem_queries(3), 3))
    assert first != list(itertools.islice(workloads.lineitem_queries(4), 3))
    for q in first:  # one part -> one supplier
        assert len(q.sources) == len(q.sinks) == 1
        assert q.sources[0] < workloads.PARTS <= workloads.SUPPLIER_ID_OFFSET <= q.sinks[0]
    q = next(workloads.smallworld_bfs_queries(3))
    assert len(set(q.sources)) == workloads.BFS_SOURCES


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER

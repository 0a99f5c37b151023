"""Max-flow and BFS benchmark for pysparkflow.

Run from the repository root:

    python3 perfbench/run.py --workload mf-lineitem --seed 7 --seconds 10 --trace 0

One client, closed loop: a single Spark session ``local[2]`` runs the
queries one after another. The benchmark sets the session up five
times (stop, ``get_spark``, one trivial job) and reports the median as
``setup_s``; only the first set-up launches the JVM. An untimed warm-up
then loads the graph once and runs the workload's first queries, so
that the JIT cost the first load and the first queries of a JVM pay
(seconds each) stays out of the figures. It then repeats passes until
``--seconds`` have gone by (at least two passes). A pass loads the graph
from the edge parquet with nothing cached, runs the workload's next few
queries on it, and then reloads it a few more times (cold data, warm
JVM) for more ``load_s`` samples. ``load_s`` and ``query_s.p50`` are
medians over the run. After the JVM has exited, every answer, the
warm-up's too, is checked against a NetworkX oracle.

With ``--trace 1`` the Spark event log is on and the per-layer metrics
are printed instead of the end-to-end ones. The last line of standard
output is always one JSON object: correct, attempted, failed, metrics.
Scratch files (inputs, Spark local dirs, event logs, spans, per-query
layer figures) go under ``.perfbench/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass

import oracle
from tracing import Span, Spans, attribute, read_event_log
from workloads import WORKLOADS, Query

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the first set-up launches the JVM; the median of five is a restart
SETUPS = 5
MIN_PASSES = 2
# the load right after a query shares the host with Spark cleaning up
# after it (0.6-1.4 s against 0.35-0.5 s); the median of the five loads
# of a pass is not moved by it
RELOADS_PER_PASS = 4
# Two task threads leave the other cores of a small shared host to the
# Python driver, the JVM's own threads and the neighbours: with one task
# thread per core, every stage waited for whichever core was slowed at
# the time, and whole runs read 20-50 % apart.
CORES = 2
# The serial collector adds no GC threads; the graphs here need well
# under 2 GB of heap.
JAVA_OPTS = "-XX:+UseSerialGC -XX:-UsePerfData"
DRIVER_MEMORY = "2g"
SEGMENTS = (
    "init",
    "arcs_build",
    "seed",
    "restart_meet",
    "accept",
    "flows_update",
    "repair",
    "validate",
)

END_TO_END = {
    "setup_s": "s",
    "load_s": "s",
    "query_s.p50": "s",
    "run_s": "s",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.first_start_s": "s",
    "session.py_peak_rss_mb": "MB",
    "session.jvm_peak_rss_mb": "MB",
    "graph.load.jobs": "count",
    "graph.load.shuffle_write_bytes": "bytes",
    "maxflow.phases": "count",
    "maxflow.rounds": "count",
    "maxflow.round_s": "s",
    "maxflow.round_s.p50": "s",
    **{f"maxflow.seg.{seg}_s": "s" for seg in SEGMENTS},
    "maxflow.unattributed_s": "s",
    "maxflow.frontier_rows_max": "count",
    "acceptor.candidates": "count",
    "acceptor.accept_ratio": "ratio",
    "bfs.levels": "count",
    "bfs.reached": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.driver_only_s": "s",
    "spark.driver_only_frac": "ratio",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.input_bytes": "bytes",
    "trace.query_s.p50": "s",
}


@dataclass
class Answered:
    """One query as it ran."""

    query: Query
    span: Span
    answer: object  # max-flow value or BFS (vertex, distance) rows; None if it raised
    error: str | None
    round_metrics: object  # max-flow RoundMetrics, else None


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


class Run:
    """One benchmark run: inputs, Spark session, spans and answers."""

    def __init__(self, workload, seed: int, seconds: float, trace: bool) -> None:
        self.wl = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.spans = Spans()
        self.out = os.path.join(ROOT, ".perfbench", f"{workload.name}-{seed}-{int(trace)}")
        self.results: list[Answered] = []
        self.rss_mb: dict[str, float] = {}

    # -- inputs ---------------------------------------------------------
    def prepare(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)
        for sub in ("tmp", "spark-local", "eventlog"):
            os.makedirs(os.path.join(self.out, sub))
        # keep Python's, the JVMs' (Spark's launcher too) and Spark's
        # scratch files in the checkout
        tmp = os.path.join(self.out, "tmp")
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = None
        os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} {JAVA_OPTS}"
        os.environ["PYSPARKFLOW_DRIVER_MEM"] = DRIVER_MEMORY
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.out, "spark-local")
        self.pairs = self.wl.make_pairs(self.seed)
        self.edges_path = os.path.join(self.out, "edges.parquet")
        self.pairs.to_parquet(self.edges_path, index=False)
        self.queries = self.wl.make_queries(self.seed)

    def spark_conf(self) -> dict[str, str]:
        conf = {"spark.local.dir": os.environ["SPARK_LOCAL_DIRS"]}
        if self.trace:
            # uncompressed, non-rolling: one plain JSON-lines file per
            # application (Spark 4's default is rolling zstd)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + os.path.join(self.out, "eventlog"),
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        return conf

    # -- the timed part -------------------------------------------------
    def measure(self) -> None:
        from pysparkflow.session import get_spark

        cores = min(CORES, len(os.sched_getaffinity(0)))
        spark = None
        try:
            for i in range(SETUPS):
                if spark is not None:
                    spark.stop()
                with self.spans.span("setup", index=i):
                    with self.spans.span("session.start"):
                        spark = get_spark(
                            app_name="perfbench",
                            master=f"local[{cores}]",
                            shuffle_partitions=cores,
                            extra_conf=self.spark_conf(),
                        )
                    spark.range(1).count()
            graph = self._warm_up(spark)
            self._passes(spark, graph)
        finally:
            if spark is not None:
                spark.stop()
            _shutdown_jvm()
        self.rss_mb = {
            "py": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024,
            "jvm": resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss / 1024,
        }

    def _warm_up(self, spark):
        """Load once and run the workload's first queries, untimed: the
        first load of a JVM took 3-5 s against 0.3-0.5 s after it, the
        first max-flow 14-16 s against 9-13 s, the first BFS 6-8 s
        against 2.4-3.5 s."""
        with self.spans.span("warmup"):
            graph = self._reload(spark, None)
            for _ in range(self.wl.warmup_queries):
                self._query(graph, next(self.queries))
        return graph

    def _passes(self, spark, graph) -> None:
        deadline = time.time() + self.seconds
        index = 0
        while True:
            with self.spans.span("pass", index=index):
                graph = self._reload(spark, graph)
                for _ in range(self.wl.queries_per_pass):
                    self._query(graph, next(self.queries))
                for _ in range(RELOADS_PER_PASS):
                    graph = self._reload(spark, graph)
            index += 1
            if index >= MIN_PASSES and time.time() >= deadline:
                break

    def _reload(self, spark, graph):
        """Drop ``graph`` and anything Spark's cache manager could match
        the new plan against, then load the edge parquet into a
        persisted, counted FlowGraph (io + graph)."""
        from pysparkflow.graph.graph import FlowGraph
        from pysparkflow.io.edgelist import read_edgelist

        if graph is not None:
            graph.edges.unpersist(blocking=True)
        spark.catalog.clearCache()
        with self.spans.span("load"):
            edges = read_edgelist(spark, self.edges_path).edges.persist()
            edges.count()
            return FlowGraph(spark, edges)

    def _query(self, graph, q) -> None:
        from pysparkflow.algo.bfs import bfs_distances
        from pysparkflow.algo.maxflow import MaxFlowConfig, max_flow

        answer = error = round_metrics = None
        with self.spans.span("query") as span:
            try:
                if self.wl.kind == "maxflow":
                    res = max_flow(
                        graph, q.sources, q.sinks, MaxFlowConfig(**self.wl.maxflow_config)
                    )
                    answer, round_metrics = res.value, res.metrics
                else:
                    answer = [(r[0], r[1]) for r in bfs_distances(graph, q.sources).collect()]
            except Exception:  # a failed query is counted, the run goes on
                error = traceback.format_exc()
        if error:
            print(f"query {q} failed:\n{error}", file=sys.stderr)
        self.results.append(Answered(q, span, answer, error, round_metrics))

    # -- checks and metrics ---------------------------------------------
    def check(self) -> int:
        """Compare every answer with the oracle; returns the failure count."""
        edges = oracle.canonical_edges(
            zip(self.pairs["src"].tolist(), self.pairs["dst"].tolist())
        )
        flow_oracle = oracle.FlowOracle(edges) if self.wl.kind == "maxflow" else None
        expected: dict = {}
        failed = 0
        for r in self.results:
            q = r.query
            if r.error is not None:
                failed += 1
                continue
            if q not in expected:
                expected[q] = (
                    flow_oracle.max_flow_value(q.sources, q.sinks)
                    if flow_oracle
                    else oracle.bfs_distances(edges, q.sources)
                )
            bad = (
                oracle.flow_mismatch(r.answer, expected[q])
                if flow_oracle
                else oracle.bfs_mismatch(r.answer, expected[q])
            )
            if bad:
                print(f"query {q}: {bad}", file=sys.stderr)
                failed += 1
        return failed

    def timed(self, name: str) -> list[Span]:
        """The spans called ``name`` inside a pass (not the warm-up)."""
        passes = {s.id for s in self.spans.named("pass")}
        return [s for s in self.spans.named(name) if s.parent in passes]

    def end_to_end(self) -> dict[str, float]:
        med = statistics.median
        walls: dict[int, dict[str, list[float]]] = {}
        for s in self.timed("load") + self.timed("query"):
            walls.setdefault(s.parent, {"load": [], "query": []})[s.name].append(s.wall)
        return {
            "setup_s": med(s.wall for s in self.spans.named("setup")),
            "load_s": med(s.wall for s in self.timed("load")),
            "query_s.p50": med(s.wall for s in self.timed("query")),
            # per pass: its typical load plus every query of its result set
            "run_s": med(med(p["load"]) + sum(p["query"]) for p in walls.values()),
        }

    def per_layer(self) -> dict[str, float]:
        costs = attribute(read_event_log(os.path.join(self.out, "eventlog")), self.spans.spans)
        with open(os.path.join(self.out, "attribution.json"), "w") as fh:
            json.dump({k: vars(v) for k, v in costs.items()}, fh, indent=1)
        starts = [s.wall for s in self.spans.named("session.start")]
        loads = [costs.get(s.id) for s in self.timed("load")]
        per_query = [self._query_layers(r, costs.get(r.span.id)) for r in self.results]
        with open(os.path.join(self.out, "per_query.json"), "w") as fh:
            json.dump(per_query, fh, indent=1)
        timed = {s.id for s in self.timed("query")}
        per_query = [q for q, r in zip(per_query, self.results) if r.span.id in timed]
        m = {
            "session.start_s": statistics.median(starts),
            "session.first_start_s": starts[0],
            "session.py_peak_rss_mb": self.rss_mb["py"],
            "session.jvm_peak_rss_mb": self.rss_mb["jvm"],
            "graph.load.jobs": statistics.median(c.jobs if c else 0 for c in loads),
            "graph.load.shuffle_write_bytes": statistics.median(
                c.shuffle_write_bytes if c else 0 for c in loads
            ),
        }
        for name in PER_LAYER:
            if name not in m and name != "trace.query_s.p50":
                m[name] = statistics.median(q[name] for q in per_query)
        m["trace.query_s.p50"] = self.end_to_end()["query_s.p50"]
        return m

    @staticmethod
    def _query_layers(r: Answered, cost) -> dict[str, float]:
        """Per-layer figures of one query (zeros for layers it never uses)."""
        span, detail = r.span, r.round_metrics
        q = {name: 0.0 for name in PER_LAYER}
        if cost is not None:
            driver_only = cost.driver_only_s(span)
            q.update(
                {
                    "spark.jobs": cost.jobs,
                    "spark.stages": cost.stages,
                    "spark.tasks": cost.tasks,
                    "spark.driver_only_s": driver_only,
                    "spark.driver_only_frac": driver_only / span.wall,
                    "spark.executor_run_s": cost.executor_run_s,
                    "spark.executor_cpu_s": cost.executor_cpu_s,
                    "spark.gc_s": cost.gc_s,
                    "spark.shuffle_read_bytes": cost.shuffle_read_bytes,
                    "spark.shuffle_write_bytes": cost.shuffle_write_bytes,
                    "spark.input_bytes": cost.input_bytes,
                }
            )
        if detail is not None:  # max-flow RoundMetrics
            segs = {seg: detail.segment_secs.get(seg, 0.0) for seg in SEGMENTS}
            rounds = sum(detail.round_secs)
            q.update({f"maxflow.seg.{seg}_s": t for seg, t in segs.items()})
            q.update(
                {
                    "maxflow.phases": detail.phases,
                    "maxflow.rounds": detail.rounds,
                    "maxflow.round_s": rounds,
                    "maxflow.round_s.p50": statistics.median(detail.round_secs or [0.0]),
                    # with_super_nodes and loop glue: the query wall no
                    # segment or round timer covers
                    "maxflow.unattributed_s": span.wall - sum(segs.values()) - rounds,
                    "maxflow.frontier_rows_max": detail.frontier_rows_max,
                    "acceptor.candidates": detail.candidates_seen,
                    "acceptor.accept_ratio": detail.accepted_paths
                    / max(detail.candidates_seen, 1),
                }
            )
        elif r.answer is not None:  # BFS (vertex, distance) rows
            q["bfs.levels"] = max((d for _, d in r.answer), default=0)
            q["bfs.reached"] = len(r.answer)
        return q


def _shutdown_jvm() -> None:
    """Close the Py4J gateway and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import pysparkflow
    except ImportError as exc:
        print(f"perfbench: cannot import the program under test: {exc}", file=sys.stderr)
        return 2
    if not os.path.abspath(pysparkflow.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: pysparkflow is not this checkout's: {pysparkflow.__file__}", file=sys.stderr)
        return 2
    run = Run(WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace))
    run.prepare()
    run.measure()
    run.spans.dump(os.path.join(run.out, "spans.json"))
    for sub in ("tmp", "spark-local"):
        shutil.rmtree(os.path.join(run.out, sub), ignore_errors=True)
    failed = run.check()
    attempted = len(run.results)
    metrics = run.per_layer() if run.trace else run.end_to_end()
    units = PER_LAYER if run.trace else END_TO_END
    timed = len(run.timed("query"))
    print(
        f"workload {run.wl.name} seed {run.seed}: {attempted} queries "
        f"({attempted - timed} warm-up) in {len(run.spans.named('pass'))} passes"
    )
    rows = dict(metrics, failed_frac=failed / attempted)
    notes = {"failed_frac": f"({failed}/{attempted} queries)"}
    for name in rows:
        if name.endswith("query_s.p50"):
            notes[name] = f"(median of n={timed})"
    for name, value in rows.items():
        unit = units.get(name, "ratio")
        print(f"  {name:34s} {value:14.4f} {unit:6s} {notes.get(name, '')}")
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {
                    name: {"value": value, "unit": units[name]}
                    for name, value in metrics.items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Reference answers computed with NetworkX, outside every timed region.

The edges handed to the program are raw (src, dst) pairs. The oracle
builds its own graph from the same pairs with the documented semantics
of ``read_edgelist`` without a capacity column: undirected, self-loops
dropped, and every distinct pair one edge of capacity 1 (repeated pairs
do not add capacity).
"""

from __future__ import annotations

from collections import deque
from typing import Iterable

import networkx as nx
from networkx.algorithms.flow import edmonds_karp

_SUPER_SOURCE = ("super", "source")
_SUPER_SINK = ("super", "sink")


def canonical_edges(pairs: Iterable[tuple[int, int]]) -> set[tuple[int, int]]:
    """Distinct undirected edges (u, v) with u < v; self-loops dropped."""
    return {(min(a, b), max(a, b)) for a, b in pairs if a != b}


class FlowOracle:
    """Max-flow values by NetworkX's Edmonds-Karp on one residual network
    built once per graph. Each query adds a super source and super sink,
    solves, and removes them again — rebuilding a 600k-edge residual
    network per query would cost several seconds each."""

    def __init__(self, edges: set[tuple[int, int]]) -> None:
        self.total_cap = len(edges)
        r = nx.DiGraph()
        r.add_edges_from(
            (a, b, {"capacity": 1}) for u, v in edges for a, b in ((u, v), (v, u))
        )
        r.graph["inf"] = float("inf")
        self._residual = r

    def max_flow_value(self, sources: Iterable[int], sinks: Iterable[int]) -> int:
        r = self._residual
        # the super arcs never bind: no flow exceeds the total capacity
        big = self.total_cap + 1
        for x in sources:
            r.add_edge(_SUPER_SOURCE, x, capacity=big)
            r.add_edge(x, _SUPER_SOURCE, capacity=0)
        for x in sinks:
            r.add_edge(x, _SUPER_SINK, capacity=big)
            r.add_edge(_SUPER_SINK, x, capacity=0)
        try:
            edmonds_karp(r, _SUPER_SOURCE, _SUPER_SINK, residual=r)
            return int(r.graph["flow_value"])
        finally:
            r.remove_node(_SUPER_SOURCE)
            r.remove_node(_SUPER_SINK)


def bfs_distances(
    edges: Iterable[tuple[int, int]], sources: Iterable[int]
) -> dict[int, int]:
    """Multi-source hop distances + 1 (a source is at distance 1), for
    every reached vertex."""
    adj: dict[int, list[int]] = {}
    for u, v in edges:
        adj.setdefault(u, []).append(v)
        adj.setdefault(v, []).append(u)
    dist = {s: 1 for s in sources}
    queue = deque(dist)
    while queue:
        u = queue.popleft()
        for w in adj.get(u, ()):
            if w not in dist:
                dist[w] = dist[u] + 1
                queue.append(w)
    return dist


def flow_mismatch(got: int, expected: int) -> str | None:
    """None when the flow value is right, else a description."""
    if isinstance(got, bool) or not isinstance(got, int) or got != expected:
        return f"max-flow value {got!r} != oracle {expected}"
    return None


def bfs_mismatch(
    got: Iterable[tuple[int, int]], expected: dict[int, int]
) -> str | None:
    """None when the (vertex, distance) set equals the oracle's, else a
    description. Duplicate rows count as a mismatch."""
    rows = [(int(v), int(d)) for v, d in got]
    got_set = set(rows)
    if len(got_set) != len(rows):
        return f"{len(rows) - len(got_set)} duplicate (vertex, distance) rows"
    want = set(expected.items())
    if got_set != want:
        return (
            f"{len(got_set - want)} unexpected and {len(want - got_set)} "
            f"missing (vertex, distance) rows"
        )
    return None

"""Seeded inputs for the benchmark's workloads.

Each workload turns ``--seed`` into an edge-pair table (written as the
parquet file the program reads) and an endless, deterministic stream of
queries. The same seed always gives the same edges and the same queries.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field
from typing import Callable, Iterator

import networkx as nx
import numpy as np
import pandas as pd

# TPC-H sf0.025 shape: 150k lineitem rows over 5k parts and 250
# suppliers, so a part has about 30 rows and a supplier about 600, as at
# every scale factor
LINEITEM_ROWS = 150_000
PARTS = 5_000
SUPPLIERS = 250
SUPPLIER_ID_OFFSET = 1_000_000  # l_suppkey + 1_000_000, as the registry does

SMALLWORLD_N, SMALLWORLD_K, SMALLWORLD_P = 20_000, 10, 0.1
BFS_SOURCES = 8


@dataclass(frozen=True)
class Query:
    sources: tuple[int, ...]
    sinks: tuple[int, ...] = ()


@dataclass(frozen=True)
class Workload:
    name: str
    kind: str  # "maxflow" or "bfs"
    make_pairs: Callable[[int], pd.DataFrame]
    make_queries: Callable[[int], Iterator[Query]]
    # one pass = a cold graph load plus this many queries: the result set
    queries_per_pass: int
    # untimed queries run first, on the warm-up's graph load
    warmup_queries: int
    maxflow_config: dict = field(default_factory=dict)


def lineitem_pairs(seed: int) -> pd.DataFrame:
    """part -> supplier pairs with uniform keys, like TPC-H lineitem's
    (l_partkey, l_suppkey); repeated pairs become capacity > 1."""
    rng = np.random.default_rng(seed)
    return pd.DataFrame(
        {
            "src": rng.integers(0, PARTS, LINEITEM_ROWS, dtype=np.int64),
            "dst": rng.integers(0, SUPPLIERS, LINEITEM_ROWS, dtype=np.int64)
            + SUPPLIER_ID_OFFSET,
        }
    )


def lineitem_queries(seed: int) -> Iterator[Query]:
    """Seeded single part -> single supplier pairs. On 3 parts -> 2
    suppliers the phase count ran from 3 to 6 from query to query; one
    part -> one supplier took 2 phases (now and then 3) and 6 rounds,
    so every sample is about the same amount of work."""
    rng = random.Random(seed)
    while True:
        yield Query((rng.randrange(PARTS),), (SUPPLIER_ID_OFFSET + rng.randrange(SUPPLIERS),))


def smallworld_pairs(seed: int) -> pd.DataFrame:
    """Watts-Strogatz small world, unit capacities."""
    g = nx.watts_strogatz_graph(SMALLWORLD_N, SMALLWORLD_K, SMALLWORLD_P, seed=seed)
    return pd.DataFrame(np.array(g.edges(), dtype=np.int64), columns=["src", "dst"])


def smallworld_bfs_queries(seed: int) -> Iterator[Query]:
    rng = random.Random(seed)
    while True:
        yield Query(tuple(rng.sample(range(SMALLWORLD_N), BFS_SOURCES)))


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "bfs-smallworld",
            "bfs",
            smallworld_pairs,
            smallworld_bfs_queries,
            queries_per_pass=3,
            warmup_queries=3,
        ),
        Workload(
            "mf-lineitem",
            "maxflow",
            lineitem_pairs,
            lineitem_queries,
            queries_per_pass=1,
            warmup_queries=1,
            maxflow_config={"meet_extra_rounds": 0, "validate": True},
        ),
    )
}

from __future__ import annotations

import random
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from graphscope_spark.session import build_session  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = build_session(cpus=4, shuffle_partitions=8, app_name="graphscope-spark-tests")
    yield s
    s.stop()


def power_law_graph(n=300, m=1200, seed=42, with_dangling=True):
    """Deterministic directed graph with hub vertices (skewed in/out degree)
    and dangling vertices — the p2p-31-style shape the reference tests on
    (FIXTURES.md §1.1)."""
    rnd = random.Random(seed)
    edges = set()
    while len(edges) < m:
        u = int(n * rnd.random() ** 2.5)  # skew: low ids are hubs
        v = int(n * rnd.random() ** 2.5) if rnd.random() < 0.5 else rnd.randrange(n)
        if u == v:
            continue
        if with_dangling and v >= n - 10:
            # vertices n-10..n-1 keep out-degree 0 (dangling)
            u, v = v, u
        if with_dangling and u >= n - 10:
            continue
        edges.add((u, v))
    vertices = list(range(n))
    return vertices, sorted(edges)


def cache_builder(spark, df):
    """The JVM CachedRDDBuilder behind ``df``'s Dataset cache. Its
    ``cachedColumnBuffers()`` is the RDD whose blocks hold the cache (and
    builds it if the cache was never materialized)."""
    cached = spark._jsparkSession.sharedState().cacheManager().lookupCachedData(df._jdf)
    return cached.get().cachedRepresentation().cacheBuilder()


def lc_rdd_ids(spark):
    """Ids of the locally checkpointed RDDs still registered as
    persistent: the live localCheckpoint block sets."""
    m = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in m.keySet().toArray()
            if m.get(int(k)).rdd().isLocallyCheckpointed()}


@pytest.fixture(scope="session")
def small_graph():
    return power_law_graph(n=300, m=1200, seed=42)


@pytest.fixture(scope="session")
def tiny_graph():
    # two components + a dangling vertex + a triangle, hand-checkable
    vertices = list(range(8))
    edges = [(0, 1), (1, 2), (2, 0), (2, 3), (5, 6), (6, 7), (4, 0)]
    return vertices, edges

"""Checkpoint-block reclamation: driver-loop algorithms must not
accumulate localCheckpoint block RDDs (ADVICE round 1: unpersist() never
frees them; Truncator frees superseded slots deterministically)."""

from __future__ import annotations

import pytest

from graphscope_spark import LinkGraph
from graphscope_spark.runtime.truncate import Truncator
from tests.conftest import cache_builder, power_law_graph


def _persistent_count(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _mk(spark, n=60, m=240, seed=8):
    vertices, edges = power_law_graph(n=n, m=m, seed=seed, with_dangling=False)
    return LinkGraph(
        spark, spark.createDataFrame(edges, "src LONG, dst LONG"),
        vertices=spark.createDataFrame([(v,) for v in vertices], "vid LONG"),
        num_partitions=2)


@pytest.mark.parametrize("algo", ["scc", "louvain", "betweenness",
                                  "core_numbers", "voterank", "mis",
                                  "ktruss"])
def test_loop_algorithms_release_checkpoints(spark, algo):
    import graphscope_spark as gs

    g = _mk(spark)
    before = _persistent_count(spark)
    if algo == "scc":
        gs.scc(g).count()
    elif algo == "louvain":
        gs.louvain(g, max_levels=2, max_rounds=4).count()
    elif algo == "betweenness":
        gs.betweenness_centrality(g, sources="all").count()
    elif algo == "core_numbers":
        gs.core_numbers(g).count()
    elif algo == "voterank":
        gs.voterank(g, num_seeds=5)
    elif algo == "mis":
        gs.mis(g).count()
    elif algo == "ktruss":
        gs.ktruss(g, 3).count()
    after = _persistent_count(spark)
    # a loop of k iterations used to leak ~k block sets; now at most a
    # handful of live result/graph-cache entries may remain
    leaked = after - before
    assert leaked <= 6, f"{algo} leaked {leaked} persistent RDDs"
    g.unpersist_all()

def test_pattern_match_directed_releases_edges(spark):
    """Directed pattern matching must reuse the graph-cached simple view —
    no per-call persisted edge copy (each call used to leak one)."""
    from graphscope_spark.operators.pattern import pattern_count

    g = _mk(spark)
    tri = [("a", "b"), ("b", "c"), ("a", "c")]
    pattern_count(g, tri, directed=True)
    before = _persistent_count(spark)
    for _ in range(3):
        pattern_count(g, tri, directed=True)
    after = _persistent_count(spark)
    # one-sided: the JVM ContextCleaner may async-unpersist unrelated
    # GC'd RDDs mid-test (count can DROP under load); only an increase
    # is a leak
    assert after <= before, f"pattern_match leaked {after - before} RDD(s)"
    g.unpersist_all()


def test_triangles_reuse_cached_orientation(spark):
    """triangle family shares the graph-cached oriented view — repeated
    calls must not register new persistent RDDs (each call used to
    persist-and-leak its own oriented copy)."""
    import graphscope_spark as gs

    g = _mk(spark)
    gs.triangles(g).count()  # builds the cached orientation once
    before = _persistent_count(spark)
    for _ in range(3):
        gs.triangles(g).count()
    after = _persistent_count(spark)
    assert after <= before, f"triangles leaked {after - before} RDD(s)"
    g.unpersist_all()


def test_truncator_close_keeps_shared_edge_cache(spark):
    """Freeing a Truncator slot releases only its own localCheckpoint
    blocks. The eager checkpoint also materializes the graph's lazily
    persisted edge cache; a registry diff around the action used to tag
    that cache too, and close() dropped it under the live Dataset."""
    g = _mk(spark)
    builder = cache_builder(spark, g.edges)
    assert not builder.isCachedColumnBuffersLoaded()
    t = Truncator()
    assert t(g.edges.groupBy("dst").count(), "s").count() > 0
    t.close()
    edge_rdd = builder.cachedColumnBuffers().id()
    assert spark.sparkContext._jsc.getPersistentRDDs().containsKey(edge_rdd), \
        "Truncator.close() unpersisted the graph's edge cache"
    g.unpersist_all()

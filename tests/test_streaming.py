"""Structured-Streaming surface: windowed degrees with watermark,
streaming dedup, applyInPandasWithState running degrees, and incremental
WCC equivalence with the batch operator."""

from __future__ import annotations

import datetime as dt

import pytest

from pyspark.sql import functions as F

from graphscope_spark import LinkGraph, wcc


def _write_edge_batch(spark, path, rows, n):
    df = spark.createDataFrame(rows, "src LONG, dst LONG, ts TIMESTAMP")
    df.coalesce(1).write.mode("append").parquet(path)


def _ts(minute):
    return dt.datetime(2026, 1, 1, 12, minute)


@pytest.fixture()
def edge_dir(spark, tmp_path):
    p = str(tmp_path / "edges")
    batches = [
        [(0, 1, _ts(0)), (1, 2, _ts(1)), (0, 2, _ts(2))],
        [(3, 4, _ts(11)), (4, 5, _ts(12)), (0, 3, _ts(13))],
        [(6, 7, _ts(21)), (7, 8, _ts(22)), (8, 6, _ts(23))],
    ]
    for i, b in enumerate(batches):
        _write_edge_batch(spark, p, b, i)
    all_edges = [(s, d) for b in batches for s, d, _ in b]
    return p, all_edges


def test_windowed_degrees_and_running(spark, edge_dir, tmp_path):
    from graphscope_spark.streaming import (
        read_edge_stream,
        running_degrees,
        windowed_degrees,
    )

    path, all_edges = edge_dir
    stream = read_edge_stream(spark, path)
    q = (windowed_degrees(stream, window="10 minutes", watermark="5 minutes")
         .writeStream.format("memory").queryName("wdeg")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM wdeg").collect()
    got = {(r["window_start"].minute, r["vid"]): r["deg"] for r in rows}
    # append mode emits only windows finalized by the watermark (max ts
    # 12:23 − 5 min = 12:18 → the 12:00-12:10 window; later windows stay
    # open). Window 12:00 holds batch 1: out-degrees 0→2, 1→1.
    assert got.get((0, 0)) == 2
    assert got.get((0, 1)) == 1
    assert all(w == 0 for w, _ in got)  # open windows withheld

    q2 = (running_degrees(read_edge_stream(spark, path))
          .writeStream.format("memory").queryName("rdeg")
          .outputMode("update").trigger(availableNow=True).start())
    q2.awaitTermination(120)
    rows2 = spark.sql("SELECT vid, MAX(deg) AS deg FROM rdeg GROUP BY vid").collect()
    got2 = {r["vid"]: r["deg"] for r in rows2}
    from collections import Counter
    want = Counter(s for s, _ in all_edges)
    assert got2 == dict(want)


def test_streaming_exact_dedup(spark, tmp_path):
    from graphscope_spark.streaming import streaming_exact_dedup

    p = str(tmp_path / "docs")
    rows = [(1, "alpha beta", _ts(0)), (2, "alpha beta", _ts(1)),
            (3, "gamma", _ts(2)), (4, "gamma", _ts(30)), (5, "delta", _ts(31))]
    spark.createDataFrame(rows, "doc_id LONG, text STRING, ts TIMESTAMP") \
        .coalesce(1).write.mode("append").parquet(p)
    stream = spark.readStream.schema("doc_id LONG, text STRING, ts TIMESTAMP") \
        .parquet(p)
    q = (streaming_exact_dedup(stream, watermark="10 minutes")
         .writeStream.format("memory").queryName("sdedup")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    ids = {r["doc_id"] for r in spark.sql("SELECT doc_id FROM sdedup").collect()}
    assert 1 in ids and 2 not in ids  # duplicate within watermark dropped
    assert 3 in ids and 5 in ids


def test_incremental_wcc_matches_batch(spark, tmp_path):
    from graphscope_spark.streaming import IncrementalWCC, read_edge_stream

    p = str(tmp_path / "edges")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    inc = IncrementalWCC(spark, state)

    batches = [
        [(0, 1, _ts(0)), (2, 3, _ts(1))],
        [(4, 5, _ts(2)), (6, 7, _ts(3))],
        [(1, 2, _ts(4)), (5, 6, _ts(5))],   # merges 0-1-2-3 and 4-5-6-7
        [(7, 0, _ts(6))],                    # merges everything
    ]
    seen = []
    for i, b in enumerate(batches):
        _write_edge_batch(spark, p, b, i)
        seen += [(s, d) for s, d, _ in b]
        q = inc.attach(read_edge_stream(spark, p), ckpt)
        q.awaitTermination(180)
        got = {r["vid"]: r["comp"] for r in inc.labels().collect()}
        g = LinkGraph(spark, spark.createDataFrame(seen, "src LONG, dst LONG"),
                      num_partitions=2)
        want = {r["vid"]: r["comp"] for r in wcc(g).collect()}
        g.unpersist_all()
        assert got == want, (i, got, want)

def test_incremental_pagerank_warm_equals_cold_fewer_steps(spark, tmp_path):
    """Ingress-style PageRank memoization: after each batch the state
    equals a cold converged run on the union of edges seen (the warm
    restart is a contraction to the same fixpoint), and a batch touching
    a small fraction of the graph converges in fewer supersteps than the
    cold run needs."""
    from graphscope_spark.operators.pagerank import pagerank
    from graphscope_spark.streaming import IncrementalPageRank, read_edge_stream

    p = str(tmp_path / "edges")
    state = str(tmp_path / "prstate")
    ckpt = str(tmp_path / "prckpt")
    tol = 1e-10
    inc = IncrementalPageRank(spark, state, tol=tol)

    # batch 0: a 40-vertex ring + chords; batch 1: one extra chord
    ring = [(i, (i + 1) % 40, _ts(i % 50)) for i in range(40)]
    chords = [(i, (i * 7 + 3) % 40, _ts((i + 1) % 50)) for i in range(0, 40, 4)]
    batches = [ring + chords, [(5, 29, _ts(45))]]
    seen = []
    cold_steps = []
    for i, b in enumerate(batches):
        _write_edge_batch(spark, p, b, i)
        seen += [(s, d) for s, d, _ in b]
        q = inc.attach(read_edge_stream(spark, p), ckpt)
        q.awaitTermination(180)

        g = LinkGraph(spark, spark.createDataFrame(seen, "src LONG, dst LONG"),
                      num_partitions=2)
        from graphscope_spark.runtime.superstep import SuperstepRunner
        runner = SuperstepRunner(spark)
        want = {r["vid"]: r["rank"]
                for r in pagerank(g, tol=tol, runner=runner).collect()}
        cold_steps.append(len(runner.history))
        got = {r["vid"]: r["rank"] for r in inc.ranks().collect()}
        g.unpersist_all()
        assert set(got) == set(want)
        assert all(abs(got[v] - want[v]) < 1e-7 for v in want), i

    # the one-edge second batch must converge warm in fewer supersteps
    # than its cold run
    assert inc.iterations_history[1] < cold_steps[1], (
        inc.iterations_history, cold_steps)


def test_streaming_sessions_matches_batch(spark, tmp_path):
    """session_window streaming sessions, finalized by the watermark,
    must equal batch sessionize on the same events. Spark's
    session_window closes a session at gap expiry — same boundaries as
    the batch lag/cumsum form."""
    from graphscope_spark.functions import session_stats
    from graphscope_spark.streaming import streaming_sessions

    p = str(tmp_path / "events")
    ckpt = str(tmp_path / "sess_ckpt")
    out = str(tmp_path / "sess_out")
    rows = []
    for u in range(3):
        # two sessions per user: events at t, t+5m, then t+60m
        for m in (0, 5, 60):
            rows.append((u, _ts(m % 60) if m < 60 else dt.datetime(2026, 1, 1, 13, 0),
                         u * 100 + m))
    # far-future flush event so the watermark passes and finalizes all
    rows.append((99, dt.datetime(2026, 1, 1, 18, 0), 9999))
    df = spark.createDataFrame(rows, "user_id LONG, ts TIMESTAMP, event_id LONG")
    df.coalesce(1).write.mode("append").parquet(p)

    stream = (spark.readStream.schema("user_id LONG, ts TIMESTAMP, event_id LONG")
              .parquet(p))
    q = (streaming_sessions(stream, gap="30 minutes", watermark="10 minutes")
         .writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", ckpt)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = {(r["user_id"], r["session_start"]): r["n_events"]
           for r in spark.read.parquet(out).collect()}
    # the flush event's own session is still open (watermark), so compare
    # against batch sessions for users 0..2 only
    batch = {(r["user_id"], r["start"]): r["n_events"]
             for r in session_stats(
                 df.filter(F.col("user_id") < 3), gap_minutes=30).collect()}
    assert got == batch


def test_incremental_minhash_dedup(spark, tmp_path):
    from graphscope_spark.streaming import IncrementalMinHashDedup

    base = ("the quick brown fox jumps over the lazy dog again and again "
            "while the river runs east past the old mill and the stone "
            "bridge every single morning")
    near = base.replace("morning", "evening")  # one token differs
    distinct_a = ("completely different content about distributed query "
                  "engines shuffle partitioning and adaptive execution "
                  "plans running on large clusters of machines")
    distinct_b = ("yet another unrelated document discussing sketch based "
                  "cardinality estimation and register merging across "
                  "supersteps of iterative graph algorithms at scale")

    p = str(tmp_path / "docs")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    inc = IncrementalMinHashDedup(spark, state, sim_threshold=0.7)

    batches = [
        [(1, base), (2, distinct_a), (3, base)],       # 3 intra-batch dup of 1
        [(4, near), (5, distinct_b)],                  # 4 cross-batch near-dup
        [(6, distinct_a), (7, base)],                  # both cross-batch dups
    ]
    for i, b in enumerate(batches):
        spark.createDataFrame(b, "doc_id LONG, text STRING") \
            .coalesce(1).write.mode("append").parquet(p)
        q = inc.attach(
            spark.readStream.schema("doc_id LONG, text STRING").parquet(p),
            ckpt)
        q.awaitTermination(180)

    kept = {r["doc_id"] for r in inc.kept().collect()}
    assert kept == {1, 2, 5}, kept

    # resume from the same state dir: a fresh instance still rejects dups
    inc2 = IncrementalMinHashDedup(spark, state, sim_threshold=0.7)
    inc2.process_batch(
        spark.createDataFrame([(8, near), (9, "tiny fresh doc")],
                              "doc_id LONG, text STRING"))
    kept2 = {r["doc_id"] for r in inc2.kept().collect()}
    assert kept2 == {1, 2, 5, 9}, kept2

    # foreachBatch REPLAY (crash between the kept and buckets writes):
    # reprocessing the identical batch must not duplicate kept rows or
    # change the admitted set
    inc2.process_batch(
        spark.createDataFrame([(8, near), (9, "tiny fresh doc")],
                              "doc_id LONG, text STRING"))
    replay = [r["doc_id"] for r in inc2.kept().collect()]
    assert sorted(replay) == [1, 2, 5, 9], replay


def test_incremental_pagerank_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: redelivering the same batch_id
    must not append its edges twice (a duplicated edge doubles its
    weight in every future solve, permanently)."""
    from graphscope_spark.streaming import IncrementalPageRank

    state = str(tmp_path / "prstate")
    inc = IncrementalPageRank(spark, state, tol=1e-10)
    ring = spark.createDataFrame(
        [(i, (i + 1) % 10) for i in range(10)], "src LONG, dst LONG")
    chord = spark.createDataFrame([(0, 5), (5, 2)], "src LONG, dst LONG")

    inc.process_batch(ring, batch_id=0)
    inc.process_batch(chord, batch_id=1)
    ranks_once = {r["vid"]: r["rank"] for r in inc.ranks().collect()}
    assert inc.edges().count() == 12

    inc.process_batch(chord, batch_id=1)  # replay: same batch id
    assert inc.edges().count() == 12      # NOT 14
    ranks_replay = {r["vid"]: r["rank"] for r in inc.ranks().collect()}
    assert ranks_replay.keys() == ranks_once.keys()
    assert all(abs(ranks_replay[v] - ranks_once[v]) < 1e-9
               for v in ranks_once)

    # a fresh instance resumes from the same state dir and sees the
    # deduped edge store
    inc2 = IncrementalPageRank(spark, state, tol=1e-10)
    assert inc2.edges().count() == 12
    assert inc2.ranks() is not None


def test_incremental_pagerank_frees_published_state(spark, tmp_path):
    """Each micro-batch's converged PageRank state is released once it
    is published: a long-running sink must not keep one localCheckpoint
    block set per batch."""
    from graphscope_spark.streaming import IncrementalPageRank
    from tests.conftest import lc_rdd_ids

    inc = IncrementalPageRank(spark, str(tmp_path / "prstate"), tol=1e-8)
    ring = spark.createDataFrame(
        [(i, (i + 1) % 10) for i in range(10)], "src LONG, dst LONG")
    chord = spark.createDataFrame([(0, 5), (5, 2)], "src LONG, dst LONG")
    before = lc_rdd_ids(spark)
    inc.process_batch(ring, batch_id=0)
    inc.process_batch(chord, batch_id=1)
    leaked = lc_rdd_ids(spark) - before
    assert not leaked, f"micro-batch states still registered: {leaked}"
    assert inc.ranks().count() == 10


def test_published_dir_survives_partial_swap(spark, tmp_path):
    """_PublishedDir: the CURRENT pointer always names a complete table;
    a leftover version directory from a crashed attempt is ignored and
    cleaned up by the next publish."""
    import os

    from graphscope_spark.streaming.incremental import _PublishedDir

    root = str(tmp_path / "state")
    pub = _PublishedDir(root)
    assert pub.path() is None
    pub.publish(spark.createDataFrame([(1, 1)], "vid LONG, comp LONG"))
    p1 = pub.path()
    assert p1 is not None
    # simulate a crashed second attempt: a half-written new version dir
    # exists but CURRENT was never repointed
    os.makedirs(os.path.join(root, "v_1", "junk"))
    assert pub.path() == p1  # reader ignores the orphan
    pub.publish(spark.createDataFrame([(2, 2)], "vid LONG, comp LONG"))
    got = [(r["vid"], r["comp"])
           for r in spark.read.parquet(pub.path()).collect()]
    assert got == [(2, 2)]
    assert not os.path.exists(p1)  # previous version reclaimed


def test_incremental_minhash_intra_batch_greedy_chain(spark, tmp_path):
    """Exact greedy-by-id admission within a batch: sim(1,2) ~ 0.5,
    sim(2,3) ~ 0.84, sim(1,3) ~ 0.44 (deterministic xxhash64 minhash
    agreements). At threshold 0.45: doc 2 is rejected (near admitted
    doc 1), and doc 3 must then be ADMITTED — its only near-dup (2) was
    never admitted. The old min-rep comparison handled neither chains
    nor rejected-rep transitivity correctly."""
    from graphscope_spark.streaming import IncrementalMinHashDedup

    base = ("alpha bravo charlie delta echo foxtrot golf hotel india "
            "juliet kilo lima mike november oscar papa quebec romeo "
            "sierra tango uniform victor whiskey xray yankee zulu one "
            "two three four five six seven eight nine ten eleven twelve "
            "thirteen fourteen")
    toks = base.split()
    y = " ".join(["aa1 bb2 cc3 dd4 ee5 ff6"] + toks[6:])
    z = " ".join(["aa1 bb2 cc3 dd4 ee5 ff6"] + toks[6:-6]
                 + ["gg7 hh8 ii9 jj0 kk1 ll2"])
    inc = IncrementalMinHashDedup(spark, str(tmp_path / "state"),
                                  sim_threshold=0.45)
    inc.process_batch(spark.createDataFrame(
        [(1, base), (2, y), (3, z)], "doc_id LONG, text STRING"))
    kept = {r["doc_id"] for r in inc.kept().collect()}
    assert kept == {1, 3}, kept
    # replay of the identical batch must not change the admitted set
    inc.process_batch(spark.createDataFrame(
        [(1, base), (2, y), (3, z)], "doc_id LONG, text STRING"))
    assert {r["doc_id"] for r in inc.kept().collect()} == {1, 3}

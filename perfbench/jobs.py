"""The jobs each workload runs, closed-loop, one at a time.

A job reads the stored input, computes its results, checks them against
the cached reference results and releases everything it cached. It returns
a flat dict: stage times (``*_s``) plus per-layer counters (dotted names).
Verification and clean-up run outside the ``job`` span.
"""

from __future__ import annotations

import os
import shutil
import statistics

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import inputs
import oracles
from probes import checkpointed_rdds, dir_mb, persistent_rdds, release_rdds

from graphscope_spark import IcebergLite, LinkGraph
from graphscope_spark.corpus import build_import_graph, ingest, resolve_edges
from graphscope_spark.operators.cdlp import CDLPJob
from graphscope_spark.operators.pagerank import PageRankJob
from graphscope_spark.operators.triangles import triangle_count
from graphscope_spark.operators.wcc import WCCJob
from graphscope_spark.runtime.superstep import SuperstepRunner

PR_RTOL = 1e-6
CDLP_ROUNDS = 10
SCALING_STEPS = 6


class Mismatch(Exception):
    """An output differs from the reference result."""


def _check(ok: bool, what: str) -> None:
    if not ok:
        raise Mismatch(what)


def _superstep_stats(runs: list[tuple[float, list]]) -> dict:
    """Per-layer superstep figures from (operator span seconds, on_step
    history) pairs."""
    walls = [m.wall_ms for _, hist in runs for m, _ in hist]
    ckpt = [m.wall_ms for _, hist in runs for m, _ in hist if m.checkpointed]
    plain = [m.wall_ms for _, hist in runs for m, _ in hist if not m.checkpointed]
    return {
        "superstep.steps": len(walls),
        "superstep.step_ms_p50": statistics.median(walls),
        "superstep.step_ms_max": max(walls),
        "superstep.first_step_ms": runs[0][1][0][0].wall_ms,
        "superstep.driver_s": sum(sec - sum(m.wall_ms for m, _ in hist) / 1e3
                                  for sec, hist in runs),
        "superstep.checkpoints": len(ckpt),
        "superstep.checkpoint_ms": (statistics.median(ckpt) - statistics.median(plain))
        if ckpt else 0.0,
    }


def _pagerank_step_ms(*legs) -> float:
    """Median wall of PageRank supersteps that wrote no checkpoint, the
    first step of each runner excluded (it also builds the initial state)."""
    return statistics.median(m.wall_ms for leg in legs for m, _ in leg[1:]
                             if not m.checkpointed)


def _partition_skew(g: LinkGraph) -> float:
    sizes = [r["c"] for r in g.edges.groupBy(F.spark_partition_id().alias("p"))
             .agg(F.count("*").alias("c")).collect()]
    return max(sizes) / (sum(sizes) / g.num_partitions)


def _release(spark, before: set[int], graphs, frames) -> int:
    """Unpersist what the job built; return how many persistent RDDs were
    still registered afterwards (leaked), then release those too so the
    next job starts from the same state."""
    for g in graphs:
        g.unpersist_all()
    for df in frames:
        df.unpersist()
    leaked = persistent_rdds(spark) - before
    release_rdds(spark, leaked)
    return len(leaked)


def corpus_job(spark, root: str, tr) -> dict:
    """Iceberg corpus -> import graph -> PageRank, WCC, CDLP, triangles."""
    meta = inputs.load_meta(root)
    before = persistent_rdds(spark)
    tbl = IcebergLite(os.path.join(root, "table"))
    out: dict = {"graph.max_in_degree": meta["max_in_degree"],
                 "triangles.wedges": meta["wedges"]}
    held = []
    with tr.span("job", "bench"):
        with tr.span("ingest", "ingest"):
            if tr.enabled:
                # materialize each layer's output inside its own span so its
                # work is not attributed to the next layer's first action
                with tr.span("iceberg.plan", "iceberg"):
                    out["iceberg.files_planned"] = len(tbl.plan_files(spark=spark))
                with tr.span("corpus.ingest", "corpus"):
                    files = ingest(tbl.read(spark)).persist()
                    out["corpus.import_tokens"] = files.select(
                        F.sum(F.size("imports"))).first()[0]
                with tr.span("corpus.resolve", "corpus"):
                    edges = resolve_edges(files).persist()
                    out["corpus.resolved_edges"] = edges.count()
                held += [files, edges]
                with tr.span("graph.vertex_map", "graph"):
                    g = LinkGraph.from_oid_edges(spark, edges)
                    g.num_vertices
                with tr.span("graph.edge_cache", "graph"):
                    g.num_edges
            else:
                g = build_import_graph(spark, tbl.read(spark))
                g.num_vertices, g.num_edges

        if tr.enabled:
            with tr.span("graph.out_degrees", "graph"):
                g.out_degrees().count()
        pr_hist: list = []
        with tr.span("pagerank", "operators"):
            pr_state, _ = SuperstepRunner(spark).run(
                PageRankJob(g), max_steps=101, on_step=tr.step_recorder(pr_hist))

        if tr.enabled:
            with tr.span("graph.sym_edges", "graph"):
                g.sym_edges().count()
        wcc_hist: list = []
        wcc_job = WCCJob(g)
        with tr.span("wcc", "operators"):
            wcc_state, _ = SuperstepRunner(spark).run(
                wcc_job, on_step=tr.step_recorder(wcc_hist))

        cdlp_hist: list = []
        with tr.span("cdlp", "operators"):
            cdlp_state, _ = SuperstepRunner(spark).run(
                CDLPJob(g, max_round=CDLP_ROUNDS), max_steps=CDLP_ROUNDS,
                on_step=tr.step_recorder(cdlp_hist))

        if tr.enabled:
            with tr.span("graph.oriented_edges", "graph"):
                out["triangles.oriented_edges"] = g.oriented_edges().count()
        with tr.span("triangles", "operators"):
            out["triangles.count"] = triangle_count(g)
    out.update(tr.seconds)
    out["compute_s"] = out["job_s"] - out["ingest_s"]
    out["pagerank_steps"] = len(pr_hist)
    out["scaling.step_ms_n"] = _pagerank_step_ms(pr_hist)
    out.update(_superstep_stats([(out["pagerank_s"], pr_hist), (out["wcc_s"], wcc_hist),
                                 (out["cdlp_s"], cdlp_hist)]))
    out["wcc.supersteps"] = len(wcc_hist)
    out["wcc.messages"] = sum(m.scalars["msgs"] for m, _ in wcc_hist)
    # the sparse (broadcast) gate each step saw: the previous step's scalars
    thr = wcc_job.sparse_threshold * g.num_vertices
    prev = [{"frontier": g.num_vertices, "msgs": g.num_vertices}] + \
        [m.scalars for m, _ in wcc_hist[:-1]]
    out["wcc.sparse_steps"] = sum(p["frontier"] < thr and p["msgs"] < thr for p in prev)
    out["cdlp.rounds"] = len(cdlp_hist)
    if tr.enabled:
        out["graph.partition_skew"] = _partition_skew(g)
        out["corpus.resolve_ratio"] = out["corpus.resolved_edges"] / out["corpus.import_tokens"]

    try:
        _verify_corpus(root, g, held, pr_state, wcc_state, cdlp_state, out, meta)
    finally:
        out["superstep.leaked_rdds"] = _release(
            spark, before, [g], held + [pr_state, wcc_state, cdlp_state])
    return out


def _verify_corpus(root, g, held, pr_state, wcc_state, cdlp_state, out, meta) -> None:
    want_edges = pd.read_parquet(os.path.join(root, "edges.parquet"))
    ref = pd.read_parquet(os.path.join(root, "vertices.parquet")).set_index("oid")
    if held:    # only a traced job keeps the resolved edge table
        resolved = held[1].toPandas()
        key = ["src_oid", "dst_oid", "src_sha256", "dst_sha256"]
        _check(len(resolved) == len(want_edges) and resolved.sort_values(key)
               .reset_index(drop=True).equals(want_edges[key]),
               "resolved edges or their sha256 differ from the regex reference")

    vmap = g.vertices.select("vid", "oid").toPandas().set_index("vid")["oid"]
    n = len(vmap)
    _check(n == meta["vertices"] and sorted(vmap.index) == list(range(n)),
           "dense vertex ids")
    e = g.edges.select("src", "dst").toPandas()
    got = set(zip(vmap.loc[e["src"]].to_numpy(), vmap.loc[e["dst"]].to_numpy()))
    _check(len(e) == meta["edges"]
           and got == set(zip(want_edges["src_oid"], want_edges["dst_oid"])),
           "graph edge set")

    pr = pr_state.select("vid", "rank").toPandas()
    _check(len(pr) == n, "pagerank row count")
    want = ref.loc[vmap.loc[pr["vid"]].to_numpy(), "rank"].to_numpy()
    out["pagerank.iterations"] = out["pagerank_steps"]
    out["pagerank.max_abs_err"] = float(np.abs(pr["rank"].to_numpy() - want).max())
    _check(out["pagerank_steps"] == meta["pagerank_iterations"], "pagerank iterations")
    _check(np.allclose(pr["rank"].to_numpy(), want, rtol=PR_RTOL, atol=0.0), "pagerank ranks")

    wc = wcc_state.select("vid", "comp").toPandas()
    _check(len(wc) == n, "wcc row count")
    wc["ref"] = ref.loc[vmap.loc[wc["vid"]].to_numpy(), "comp"].to_numpy()
    by_ref = wc.groupby("ref").agg(lo=("vid", "min"), n=("comp", "nunique"), c=("comp", "first"))
    _check(bool((by_ref["n"] == 1).all() and (by_ref["lo"] == by_ref["c"]).all()
                and by_ref["c"].is_unique), "wcc components")

    # CDLP ties break on vertex ids, so its reference runs on the engine's ids
    vid_of = pd.Series(vmap.index.to_numpy(), index=vmap.to_numpy())
    s = vid_of.loc[want_edges["src_oid"]].to_numpy()
    d = vid_of.loc[want_edges["dst_oid"]].to_numpy()
    labels, rounds = oracles.label_propagation(s, d, np.arange(n), max_round=CDLP_ROUNDS)
    cd = cdlp_state.select("vid", "label").toPandas()
    _check(len(cd) == n and out["cdlp.rounds"] == rounds, "cdlp rows or rounds")
    _check(np.array_equal(cd["label"].to_numpy(), labels[cd["vid"].to_numpy()]), "cdlp labels")

    _check(out["triangles.count"] == meta["triangles"], "triangle count")


def hub_job(spark, root: str, tr, work: str) -> dict:
    """Zipf edge table -> fixed-step PageRank with checkpoints; the first
    runner stops two steps after a checkpoint, a fresh runner resumes."""
    meta = inputs.load_meta(root)
    before = persistent_rdds(spark)
    tbl = IcebergLite(os.path.join(root, "table"))
    ckpt = os.path.join(work, f"ckpt-{os.getpid()}")
    shutil.rmtree(ckpt, ignore_errors=True)
    every, steps = inputs.HUB_CHECKPOINT_EVERY, inputs.HUB_STEPS
    out: dict = {"graph.max_in_degree": meta["max_in_degree"]}

    def runner():
        return SuperstepRunner(spark, checkpoint_dir=ckpt, checkpoint_every=every)

    def job():    # identical config in both legs, as a resume requires
        return PageRankJob(g, tol=0.0, max_iter=10**6)

    with tr.span("job", "bench"):
        with tr.span("ingest", "ingest"):
            if tr.enabled:
                with tr.span("iceberg.plan", "iceberg"):
                    out["iceberg.files_planned"] = len(tbl.plan_files(spark=spark))
                with tr.span("graph.edge_cache", "graph"):
                    g = LinkGraph(spark, tbl.read(spark))
                    g.num_edges
                with tr.span("graph.vertices", "graph"):
                    g.num_vertices
            else:
                g = LinkGraph(spark, tbl.read(spark))
                g.num_edges, g.num_vertices

        if tr.enabled:
            with tr.span("graph.out_degrees", "graph"):
                g.out_degrees().count()
        leg1: list = []
        leg2: list = []
        with tr.span("pagerank", "operators"):
            with tr.span("pagerank.leg1", "operators"):
                crashed, _ = runner().run(job(), max_steps=every + 2,
                                          on_step=tr.step_recorder(leg1))
            # the crash: the first driver's superstep state is gone
            crashed.unpersist()
            release_rdds(spark, checkpointed_rdds(spark) - before)
            with tr.span("resume", "operators") as resume:
                state, _ = runner().run(job(), max_steps=steps, resume=True,
                                        on_step=tr.step_recorder(leg2))
    try:
        out.update(tr.seconds)
        out["compute_s"] = out["job_s"] - out["ingest_s"]
        out["pagerank_steps"] = len(leg1) + len(leg2)
        out["scaling.step_ms_n"] = _pagerank_step_ms(leg1, leg2)
        out.update(_superstep_stats([(out["pagerank.leg1_s"], leg1),
                                     (out["resume_s"], leg2)]))
        # resume start -> first resumed step started: manifest + state reload
        out["superstep.resume_load_s"] = \
            (leg2[0][1] - leg2[0][0].wall_ms / 1e3) - resume.start
        out["superstep.checkpoint_mb"] = dir_mb(ckpt)
        out["pagerank.iterations"] = leg2[-1][0].step
        if tr.enabled:
            out["graph.partition_skew"] = _partition_skew(g)

        ranks = state.select("vid", "rank").toPandas().sort_values("vid")
        want = pd.read_parquet(os.path.join(root, "vertices.parquet"))
        _check(len(ranks) == meta["vertices"] == g.num_vertices
               and np.array_equal(ranks["vid"].to_numpy(), want["vid"].to_numpy()),
               "pagerank vertex set")
        out["pagerank.max_abs_err"] = float(np.abs(ranks["rank"].to_numpy()
                                                   - want["rank"].to_numpy()).max())
        _check(leg1[-1][0].step == every + 2 and leg2[0][0].step == every + 1
               and out["pagerank.iterations"] == steps, "resume step numbers")
        _check(np.allclose(ranks["rank"].to_numpy(), want["rank"].to_numpy(),
                           rtol=PR_RTOL, atol=0.0), "resumed pagerank ranks")
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
        out["superstep.leaked_rdds"] = _release(spark, before, [g], [state])
    return out


def scaling_leg(spark, edges) -> float:
    """Median superstep wall (ms, first step excluded) of fixed-step
    PageRank on ``edges`` (src, dst) at the session's parallelism."""
    before = persistent_rdds(spark)
    g = LinkGraph(spark, edges)
    g.num_edges
    r = SuperstepRunner(spark)
    state, _ = r.run(PageRankJob(g, tol=0.0, max_iter=10**6), max_steps=SCALING_STEPS)
    ms = statistics.median(m.wall_ms for m in r.history[1:])
    _release(spark, before, [g], [state])
    return ms

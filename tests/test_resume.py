"""Mid-iteration checkpoint/resume e2e — the north rule's "resumable from
checkpoint with per-partition lineage + metrics" requirement, exercised
end-to-end: a run killed after K supersteps resumes from the parquet
checkpoint (fresh runner — nothing carried in memory) and converges to
the exact state an uninterrupted run reaches."""
from __future__ import annotations

import json
import os

import pytest

from graphscope_spark import LinkGraph
from tests.conftest import power_law_graph


def _graph(spark):
    vertices, edges = power_law_graph(n=400, m=1600, seed=9)
    return LinkGraph(
        spark, spark.createDataFrame(edges, "src LONG, dst LONG"),
        vertices=spark.createDataFrame([(v,) for v in vertices], "vid LONG"),
        num_partitions=4)


def test_pagerank_resume_equals_uninterrupted(spark, tmp_path):
    from graphscope_spark.operators.pagerank import PageRankJob
    from graphscope_spark.runtime.superstep import SuperstepRunner

    g = _graph(spark)
    ckpt = str(tmp_path / "pr_ckpt")

    # interrupted run: checkpoint every 3 steps, stop after 6 supersteps
    r1 = SuperstepRunner(spark, checkpoint_dir=ckpt, checkpoint_every=3)
    job = PageRankJob(g, alpha=0.85, max_iter=100, tol=1e-9)
    r1.run(job, max_steps=6)
    man = r1.latest_checkpoint()
    assert man["step"] == 6 and man["config"]["algo"] == "pagerank"
    # per-partition lineage: each checkpoint manifest records partition
    # rows + checksums and links its predecessor checkpoint
    assert len(man["per_partition"]) > 0
    assert all("rows" in p and "checksum" in p for p in man["per_partition"])
    assert man["input_checkpoint"] and os.path.exists(
        os.path.dirname(man["input_checkpoint"]))

    # resume with a FRESH runner and a fresh job object
    r2 = SuperstepRunner(spark, checkpoint_dir=ckpt, checkpoint_every=3)
    state, scalars = r2.run(
        PageRankJob(g, alpha=0.85, max_iter=100, tol=1e-9), resume=True)
    assert r2.history[0].step == 7  # continued, not restarted

    # uninterrupted control
    r3 = SuperstepRunner(spark)
    want, wscal = r3.run(PageRankJob(g, alpha=0.85, max_iter=100, tol=1e-9))

    got = {r["vid"]: r["rank"] for r in state.select("vid", "rank").collect()}
    ref = {r["vid"]: r["rank"] for r in want.select("vid", "rank").collect()}
    assert set(got) == set(ref)
    assert all(abs(got[v] - ref[v]) < 1e-12 for v in ref)
    # identical superstep count overall (6 + resumed == uninterrupted)
    assert 6 + len(r2.history) == len(r3.history)
    g.unpersist_all()


def test_resume_config_mismatch_refuses(spark, tmp_path):
    from graphscope_spark.operators.pagerank import PageRankJob
    from graphscope_spark.runtime.superstep import SuperstepRunner

    g = _graph(spark)
    ckpt = str(tmp_path / "pr_ckpt2")
    r1 = SuperstepRunner(spark, checkpoint_dir=ckpt, checkpoint_every=2)
    r1.run(PageRankJob(g, alpha=0.85, max_iter=100, tol=1e-9), max_steps=2)
    r2 = SuperstepRunner(spark, checkpoint_dir=ckpt)
    with pytest.raises(ValueError, match="config mismatch"):
        r2.run(PageRankJob(g, alpha=0.5, max_iter=100, tol=1e-9), resume=True)
    g.unpersist_all()


def test_checkpoint_partition_checksums_detect_corruption(spark, tmp_path):
    """The per-partition checksums in the manifest are real: recomputing
    them over the checkpointed parquet reproduces the manifest, and a
    corrupted state file no longer matches."""
    import glob

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from graphscope_spark.operators.wcc import WCCJob
    from graphscope_spark.runtime.superstep import SuperstepRunner

    # no AQE coalescing: the state keeps several partitions, so the
    # checkpoint spans several part files
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(key, "false")
    try:
        g = _graph(spark)
        ckpt = str(tmp_path / "wcc_ckpt")
        r = SuperstepRunner(spark, checkpoint_dir=ckpt, checkpoint_every=1)
        r.run(WCCJob(g), max_steps=2)
    finally:
        spark.conf.set(key, "true")
    man = r.latest_checkpoint()
    want = {p["pid"]: (p["rows"], p["checksum"]) for p in man["per_partition"]}
    assert len(want) > 1

    def per_file():
        df = spark.read.parquet(man["state_path"])
        pid = F.regexp_extract(F.input_file_name(), r"part-(\d+)", 1)
        rows = (df.groupBy(pid.cast("int").alias("pid"))
                .agg(F.count("*").alias("rows"),
                     F.bit_xor(F.xxhash64(*df.columns)).alias("checksum"))
                .collect())
        return {r["pid"]: (r["rows"], str(r["checksum"])) for r in rows}

    assert per_file() == want

    # change one value in one part file (and drop its .crc sidecar, which
    # would otherwise fail the read before any checksum is computed)
    victim = sorted(glob.glob(os.path.join(man["state_path"], "part-*")))[0]
    crc = os.path.join(os.path.dirname(victim), f".{os.path.basename(victim)}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    t = pq.read_table(victim)
    i = t.column_names.index("comp")
    comp = t.column(i).to_pylist()
    comp[0] += 1
    pq.write_table(t.set_column(i, t.field(i), pa.array(comp, t.field(i).type)),
                   victim)
    vpid = int(os.path.basename(victim).split("-")[1])
    got = per_file()
    assert got[vpid][0] == want[vpid][0]
    assert got[vpid][1] != want[vpid][1], "corrupted part file still matches"
    assert {p: v for p, v in got.items() if p != vpid} == \
        {p: v for p, v in want.items() if p != vpid}
    g.unpersist_all()

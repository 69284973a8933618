"""Per-seed benchmark inputs and their cached reference results.

Inputs are generated once per (workload, seed) into ``<cache>/<workload>-<seed>``
and are never part of a timed region. A directory is complete once its
``meta.json`` exists; generation writes into a temporary sibling first.
"""

from __future__ import annotations

import glob
import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import oracles

# corpus workload: a synthesized source-code corpus stored as an Iceberg
# table (one snapshot, partitioned by language)
CORPUS_FILES = 20_000
FILES_PER_REPO = 50

# hub_resume workload: a Zipf-skewed edge table stored as an Iceberg table
HUB_VERTICES = 200_000
HUB_EDGES = 2_000_000
HUB_ZIPF_S = 0.95            # top vertex gets ~5% of all in-edges
HUB_STEPS = 8                # fixed PageRank supersteps (tol = 0)
HUB_CHECKPOINT_EVERY = 3


def prepare(spark, workload: str, seed: int, cache: str) -> str:
    """Return the input directory for (workload, seed), generating it with
    ``spark`` if it does not exist yet."""
    root = os.path.join(cache, f"{workload}-{seed}")
    if os.path.exists(os.path.join(root, "meta.json")):
        return root
    tmp = root + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    meta = {"corpus": _gen_corpus, "hub_resume": _gen_hub}[workload](spark, seed, tmp)
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f, indent=1)
    shutil.rmtree(root, ignore_errors=True)
    os.rename(tmp, root)
    return root


def load_meta(root: str) -> dict:
    with open(os.path.join(root, "meta.json")) as f:
        return json.load(f)


def _read_table_files(table: str, columns: list[str]) -> pd.DataFrame:
    """Read an Iceberg table's data files with pyarrow (partition values
    recovered from the hive-style directory names)."""
    parts = []
    for path in sorted(glob.glob(os.path.join(table, "data", "**", "*.parquet"),
                                 recursive=True)):
        df = pq.read_table(path).to_pandas()
        for seg in os.path.relpath(path, table).split(os.sep)[:-1]:
            if "=" in seg:
                k, v = seg.split("=", 1)
                df[k] = v
        parts.append(df[columns])
    return pd.concat(parts, ignore_index=True)


def _gen_corpus(spark, seed: int, out: str) -> dict:
    from graphscope_spark import IcebergLite
    from graphscope_spark.corpus import synthesize_corpus

    table = os.path.join(out, "table")
    IcebergLite.write(synthesize_corpus(spark, n_files=CORPUS_FILES,
                                        files_per_repo=FILES_PER_REPO, seed=seed),
                      table, partition_by=["lang"])
    files = _read_table_files(table, ["repo", "path", "lang", "content"])
    edges, tokens = oracles.import_edges(files)
    edges.to_parquet(os.path.join(out, "edges.parquet"))

    oids = np.unique(np.concatenate([edges["src_oid"], edges["dst_oid"]]))
    n = len(oids)
    src = np.searchsorted(oids, edges["src_oid"].to_numpy())
    dst = np.searchsorted(oids, edges["dst_oid"].to_numpy())
    # the same graph with dense ids, for the scaling legs
    pd.DataFrame({"src": src, "dst": dst}).to_parquet(os.path.join(out, "dense.parquet"))
    rank, iters = oracles.pagerank(src, dst, n)
    comp = oracles.components(src, dst, n)
    tri, wedges = oracles.triangles(src, dst, n)
    pd.DataFrame({"oid": oids, "rank": rank, "comp": comp}) \
        .to_parquet(os.path.join(out, "vertices.parquet"))
    return {"workload": "corpus", "seed": seed, "files": len(files),
            "vertices": n, "edges": len(edges), "import_tokens": tokens,
            "pagerank_iterations": iters, "triangles": int(tri.sum()) // 3,
            "wedges": wedges,
            "max_in_degree": int(np.bincount(dst, minlength=n).max())}


def _gen_hub(spark, seed: int, out: str) -> dict:
    from graphscope_spark import IcebergLite

    rng = np.random.default_rng(seed)
    weights = 1.0 / np.arange(1, HUB_VERTICES + 1) ** HUB_ZIPF_S
    cdf = np.cumsum(weights) / weights.sum()
    perm = rng.permutation(HUB_VERTICES)    # hubs land on random ids
    # oversample, then keep the first HUB_EDGES distinct non-loop pairs
    k = int(HUB_EDGES * 1.25)
    src = rng.integers(0, HUB_VERTICES, k)
    dst = perm[np.minimum(np.searchsorted(cdf, rng.random(k)), HUB_VERTICES - 1)]
    key = src * HUB_VERTICES + dst
    _, first = np.unique(key, return_index=True)
    first = np.sort(first[src[first] != dst[first]])[:HUB_EDGES]
    src, dst = src[first], dst[first]

    raw = os.path.join(out, "raw.parquet")
    pd.DataFrame({"src": src, "dst": dst}).to_parquet(raw)
    IcebergLite.write(spark.read.parquet(raw), os.path.join(out, "table"))
    os.remove(raw)

    vids = np.unique(np.concatenate([src, dst]))
    n = len(vids)
    rank, _ = oracles.pagerank(np.searchsorted(vids, src), np.searchsorted(vids, dst),
                               n, tol=0.0, steps=HUB_STEPS)
    pd.DataFrame({"vid": vids, "rank": rank}).to_parquet(os.path.join(out, "vertices.parquet"))
    return {"workload": "hub_resume", "seed": seed, "vertices": n, "edges": len(src),
            "pagerank_steps": HUB_STEPS,
            "max_in_degree": int(np.bincount(dst).max())}

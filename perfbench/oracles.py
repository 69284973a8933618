"""Reference results computed with numpy/pandas only, independent of Spark.

Every function works on plain integer arrays of vertex positions
``0..n-1``; the caller maps positions to the engine's vertex ids or oids.
"""

from __future__ import annotations

import hashlib
import re

import numpy as np
import pandas as pd

# Import syntax of the three dialects the corpus generator emits, one
# pattern per line of source (the engine matches whole documents).
_LINE_PATTERNS = {
    "python": [re.compile(r"import\s+([\w.]+)"),
               re.compile(r"from\s+([\w.]+)\s+import\b")],
    "c": [re.compile(r'#include\s+"([^"]+)"')],
    "java": [re.compile(r"import\s+([\w.]+)\s*;")],
}
_MODULE = re.compile(r"^([\w\-]+)\.")
_REPO_TOKEN = re.compile(r"^repo_\d+\.")


def import_tokens(content: str, lang: str) -> list[str]:
    out = []
    for line in content.split("\n"):
        for pat in _LINE_PATTERNS.get(lang, ()):
            m = pat.match(line)
            if m:
                out.append(m.group(1))
                break
    return out


def import_edges(files: pd.DataFrame) -> tuple[pd.DataFrame, int]:
    """Resolve the import tokens of a corpus (columns repo, path, lang,
    content) to file-level edges.

    Returns ``(edges, tokens)``: edges has columns src_oid, dst_oid,
    src_sha256, dst_sha256 (distinct, no self edges) and ``tokens`` is the
    number of raw import tokens found.
    """
    oid = files["repo"] + "/" + files["path"]
    sha = [hashlib.sha256(c.encode("utf-8")).hexdigest() for c in files["content"]]
    index = {}
    for o, repo, path, s in zip(oid, files["repo"], files["path"], sha):
        m = _MODULE.match(path.rsplit("/", 1)[-1])
        if m:
            index[(repo, m.group(1))] = (o, s)
    rows = set()
    tokens = 0
    for o, repo, lang, content, s in zip(oid, files["repo"], files["lang"],
                                         files["content"], sha):
        for tok in import_tokens(content, lang):
            tokens += 1
            if tok.endswith(".h"):
                tok = tok[:-2]
            tok = tok.replace("/", ".")
            if tok.startswith(repo + "."):
                tok = tok[len(repo) + 1:]
            target_repo = tok.split(".")[0] if _REPO_TOKEN.match(tok) else repo
            hit = index.get((target_repo, tok.split(".")[-1]))
            if hit is not None and hit[0] != o:
                rows.add((o, hit[0], s, hit[1]))
    edges = pd.DataFrame(sorted(rows), columns=["src_oid", "dst_oid",
                                                "src_sha256", "dst_sha256"])
    return edges, tokens


def pagerank(src: np.ndarray, dst: np.ndarray, n: int, alpha: float = 0.85,
             tol: float = 1e-6, max_iter: int = 100,
             steps: int | None = None) -> tuple[np.ndarray, int]:
    """NetworkX-semantics PageRank as the engine defines it: uniform start,
    dangling mass spread uniformly, stop when the L1 change < tol * n or
    after max_iter + 1 steps; with ``steps`` run exactly that many."""
    deg = np.bincount(src, minlength=n).astype(np.float64)
    dangling = deg == 0
    rank = np.full(n, 1.0 / n)
    dangling_sum = alpha * (1.0 / n) * dangling.sum()
    inv = np.where(dangling, 0.0, 1.0 / np.maximum(deg, 1.0))
    it = 0
    while True:
        it += 1
        base = (1.0 - alpha) / n + dangling_sum / n
        new = alpha * np.bincount(dst, weights=(rank * inv)[src], minlength=n) + base
        eps = np.abs(new - rank).sum()
        dangling_sum = alpha * new[dangling].sum()
        rank = new
        if steps is not None:
            if it >= steps:
                break
        elif eps < tol * n or it > max_iter:
            break
    return rank, it


def components(src: np.ndarray, dst: np.ndarray, n: int) -> np.ndarray:
    """Weakly connected component label (smallest member position) per
    vertex: min-label propagation with pointer jumping to a fixpoint."""
    label = np.arange(n)
    while True:
        prev = label.copy()
        np.minimum.at(label, dst, label[src])
        np.minimum.at(label, src, label[dst])
        label = label[label]
        if np.array_equal(label, prev):
            return label


def label_propagation(src: np.ndarray, dst: np.ndarray, labels: np.ndarray,
                      max_round: int = 10) -> tuple[np.ndarray, int]:
    """Synchronous CDLP over the in+out neighbour multiset: each vertex
    takes its most frequent neighbour label, ties to the smallest label;
    vertices without neighbours keep theirs. Returns (labels, rounds)."""
    s = np.concatenate([src, dst])
    d = np.concatenate([dst, src])
    labels = labels.copy()
    rounds = 0
    while rounds < max_round:
        rounds += 1
        cnt = (pd.DataFrame({"d": d, "l": labels[s]})
               .groupby(["d", "l"]).size().reset_index(name="c")
               .sort_values(["d", "c", "l"], ascending=[True, False, True])
               .drop_duplicates("d"))
        new = labels.copy()
        new[cnt["d"].to_numpy()] = cnt["l"].to_numpy()
        changed = int((new != labels).sum())
        labels = new
        if changed == 0:
            break
    return labels, rounds


def triangles(src: np.ndarray, dst: np.ndarray, n: int) -> tuple[np.ndarray, int]:
    """Per-vertex triangle counts of the simple undirected graph and the
    number of wedges its degree-ordered orientation enumerates."""
    keep = src != dst
    a = np.minimum(src[keep], dst[keep]).astype(np.int64)
    b = np.maximum(src[keep], dst[keep]).astype(np.int64)
    key = np.unique(a * n + b)
    a, b = key // n, key % n
    deg = np.bincount(a, minlength=n) + np.bincount(b, minlength=n)
    a_high = (deg[a] > deg[b]) | ((deg[a] == deg[b]) & (a > b))
    u = np.where(a_high, a, b)
    v = np.where(a_high, b, a)
    order = np.argsort(u * n + v)
    u, v = u[order], v[order]
    ptr = np.searchsorted(u, np.arange(n + 1))
    fan = np.diff(ptr)[v]                       # wedges through each edge u->v
    wedges = int(fan.sum())
    x = np.repeat(u, fan)
    y = np.repeat(v, fan)
    offs = np.arange(wedges) - np.repeat(np.cumsum(fan) - fan, fan)
    z = v[np.repeat(ptr[v], fan) + offs]
    ekey = u * n + v                            # sorted
    probe = x * n + z
    pos = np.minimum(np.searchsorted(ekey, probe), len(ekey) - 1)
    closed = ekey[pos] == probe
    counts = (np.bincount(x[closed], minlength=n) + np.bincount(y[closed], minlength=n)
              + np.bincount(z[closed], minlength=n))
    return counts, wedges

"""Driver-side NumPy inputs and reference answers for the benchmark.

Everything here runs in the benchmark process, outside every timed
window, and never touches Spark:

- :func:`crawl_graph` replays the pages generator's link list
  (``sources.pages.expected_edges``) and the id map's contract (dense ids
  in sorted-URL order over the edge endpoints), so the benchmark knows the
  exact deduplicated edge table the engine must build;
- :func:`pagerank_ref`, :func:`wcc_ref`, :func:`lpa_ref` and
  :func:`triangles_ref` are float64 / exact replicas of the operators'
  documented semantics, used to check every output.

References are cached per (workload, seed, size) as ``.npz`` files, so a
seed measured again in the same checkout skips the recomputation.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np


@dataclass
class CrawlGraph:
    urls: np.ndarray  # sorted unique endpoint URLs; id = position
    src: np.ndarray   # int64 ids, deduplicated (src, dst) pairs
    dst: np.ndarray
    src_page: np.ndarray  # generator page index of each edge's source

    @property
    def n(self) -> int:
        return len(self.urls)


def _page_index(urls: np.ndarray) -> np.ndarray:
    return np.array([int(u.rsplit("/", 1)[1]) for u in urls], dtype=np.int64)


def crawl_graph(n_pages: int, seed: int, max_degree: int) -> CrawlGraph:
    """The deduplicated, id-mapped edge table of ``generate_pages``."""
    from neo4j_graph_algorithms_spark.sources.pages import expected_edges

    pairs = expected_edges(n_pages, seed=seed, max_degree=max_degree)
    pairs = pairs.drop_duplicates(["src_url", "dst_url"])
    src_url = pairs["src_url"].to_numpy(dtype=object)
    dst_url = pairs["dst_url"].to_numpy(dtype=object)
    urls, inv = np.unique(np.concatenate([src_url, dst_url]), return_inverse=True)
    m = len(src_url)
    src = inv[:m].astype(np.int64)
    dst = inv[m:].astype(np.int64)
    page_of_url = _page_index(urls)
    return CrawlGraph(urls, src, dst, page_of_url[src])


def pagerank_ref(n: int, src: np.ndarray, dst: np.ndarray,
                 damping: float = 0.85, tol: float = 1e-12,
                 max_iterations: int = 10_000) -> np.ndarray:
    """Per-node formulation ``pr = (1-d) + d·Σ pr(u)/outdeg(u)``; dangling
    vertices push nothing (operators/pagerank.py), run to ``tol``."""
    outdeg = np.bincount(src, minlength=n).astype(np.float64)
    f = 1.0 / outdeg[src]
    base = np.full(n, 1.0 - damping)
    pr = base.copy()
    for _ in range(max_iterations):
        new = base + damping * np.bincount(dst, weights=pr[src] * f, minlength=n)
        delta = np.abs(new - pr).max()
        pr = new
        if delta < tol:
            break
    return pr


def wcc_ref(n: int, src: np.ndarray, dst: np.ndarray) -> np.ndarray:
    """Union-find; component = minimum member id (operators/wcc.py)."""
    parent = np.arange(n, dtype=np.int64)
    p = parent.tolist()

    def find(x: int) -> int:
        while p[x] != x:
            p[x] = p[p[x]]
            x = p[x]
        return x

    for s, d in zip(src.tolist(), dst.tolist()):
        rs, rd = find(s), find(d)
        if rs != rd:
            if rs < rd:
                p[rd] = rs
            else:
                p[rs] = rd
    return np.array([find(i) for i in range(n)], dtype=np.int64)


def lpa_ref(n: int, src: np.ndarray, dst: np.ndarray,
            max_iterations: int = 10) -> tuple[np.ndarray, int, bool]:
    """Red-black semi-synchronous LPA, direction ``out``, unit weights:
    each iteration updates even ids from the previous labels, then odd
    ids from the refreshed ones; a vertex adopts the label with the most
    votes, ties to the smallest label (operators/labelprop.py).

    Returns ``(labels, ran_iterations, did_converge)``."""
    labels = np.arange(n, dtype=np.int64)
    parity = src % 2
    it = 0
    for it in range(1, max_iterations + 1):
        prev = labels.copy()
        for par in (0, 1):
            sel = parity == par
            v = src[sel]
            lab = labels[dst[sel]]
            if len(v) == 0:
                continue
            order = np.lexsort((lab, v))
            v, lab = v[order], lab[order]
            start = np.flatnonzero(
                np.r_[True, (v[1:] != v[:-1]) | (lab[1:] != lab[:-1])])
            gv, glab = v[start], lab[start]
            votes = np.diff(np.r_[start, len(v)])
            # per listener: most votes first, then the smallest label
            best = np.lexsort((glab, -votes, gv))
            first = np.r_[True, gv[best][1:] != gv[best][:-1]]
            win = best[first]
            labels[gv[win]] = glab[win]
        if np.array_equal(labels, prev):
            return labels, it, True
    return labels, it, False


def triangles_ref(n: int, src: np.ndarray, dst: np.ndarray
                  ) -> tuple[np.ndarray, np.ndarray]:
    """Per-vertex triangle counts and local clustering coefficients of the
    undirected simple graph (self-loops dropped, both directions merged);
    ``C(v) = 2·T(v) / (deg·(deg-1))``, 0 when deg < 2."""
    keep = src != dst
    lo = np.minimum(src[keep], dst[keep])
    hi = np.maximum(src[keep], dst[keep])
    key = np.unique(lo * n + hi)
    lo, hi = key // n, key % n
    deg = np.bincount(lo, minlength=n) + np.bincount(hi, minlength=n)
    # orient every edge from the lower (degree, id) endpoint: each vertex
    # then enumerates only the wedges between its higher-ranked neighbours
    rank = np.lexsort((np.arange(n), deg))
    pos = np.empty(n, dtype=np.int64)
    pos[rank] = np.arange(n)
    a = np.where(pos[lo] < pos[hi], lo, hi)
    b = np.where(pos[lo] < pos[hi], hi, lo)
    order = np.argsort(a, kind="stable")
    a, b = a[order], b[order]
    bounds = np.searchsorted(a, np.arange(n + 1))
    tri = np.zeros(n, dtype=np.int64)
    for u in np.flatnonzero(np.diff(bounds) >= 2):
        nb = b[bounds[u]:bounds[u + 1]]
        i, j = np.triu_indices(len(nb), 1)
        x, y = nb[i], nb[j]
        q = np.minimum(x, y) * n + np.maximum(x, y)
        at = np.minimum(np.searchsorted(key, q), len(key) - 1)
        closed = key[at] == q
        if closed.any():
            tri[u] += int(closed.sum())
            np.add.at(tri, x[closed], 1)
            np.add.at(tri, y[closed], 1)
    denom = deg * (deg - 1)
    coef = np.where(deg >= 2, 2.0 * tri / np.maximum(denom, 1), 0.0)
    return tri, coef


def cached(path: str, compute) -> dict[str, np.ndarray]:
    """Load ``path`` (.npz) or compute the dict of arrays and store it."""
    if os.path.exists(path):
        with np.load(path) as z:
            return {k: z[k] for k in z.files}
    out = compute()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + f".{os.getpid()}.tmp.npz"
    np.savez(tmp, **out)
    os.replace(tmp, path)
    return out

"""Reference answers computed outside the timed sections (numpy, duckdb).

Every function takes plain numpy edge arrays and returns what the Spark
kernel should have produced, so each timed call can be checked.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd


def clean(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Deduped, self-loop-free directed edges."""
    keep = src != dst
    pairs = np.unique(np.stack([src[keep], dst[keep]], axis=1), axis=0)
    return pairs[:, 0], pairs[:, 1]


def symmetric(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    s, d = clean(src, dst)
    pairs = np.unique(np.stack([np.concatenate([s, d]), np.concatenate([d, s])], axis=1), axis=0)
    return pairs[:, 0], pairs[:, 1]


def components(vids: np.ndarray, src: np.ndarray, dst: np.ndarray) -> dict[int, int]:
    """Union-find: vid -> min vid of its weakly connected component."""
    vids = np.unique(vids)
    parent = np.arange(len(vids))
    si, di = np.searchsorted(vids, src), np.searchsorted(vids, dst)

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(si.tolist(), di.tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            # vids are sorted, so the smaller index is the smaller vid
            parent[max(ra, rb)] = min(ra, rb)
    roots = np.array([find(i) for i in range(len(vids))])
    return dict(zip(vids.tolist(), vids[roots].tolist()))


def pagerank(vids: np.ndarray, src: np.ndarray, dst: np.ndarray,
             alpha: float = 0.85, tol: float = 1e-13) -> dict[int, float]:
    """Damped power iteration with dangling mass spread uniformly, over
    the cleaned directed edges, to a far tighter tolerance than the
    kernel's."""
    vids = np.unique(vids)
    n = len(vids)
    s, d = clean(src, dst)
    si, di = np.searchsorted(vids, s), np.searchsorted(vids, d)
    out_deg = np.bincount(si, minlength=n).astype(float)
    dangling = out_deg == 0
    rank = np.full(n, 1.0 / n)
    for _ in range(10000):
        contrib = np.where(dangling, 0.0, rank / np.where(dangling, 1.0, out_deg))
        new = (1 - alpha) / n + alpha * (np.bincount(di, weights=contrib[si], minlength=n)
                                         + rank[dangling].sum() / n)
        done = np.abs(new - rank).max() < tol
        rank = new
        if done:
            break
    return dict(zip(vids.tolist(), rank.tolist()))


def mode_lp(vids: np.ndarray, src: np.ndarray, dst: np.ndarray, n_iterations: int = 10) -> dict[int, int]:
    """Synchronous mode label propagation over the symmetric edges: each
    vertex takes the most frequent neighbour label, the smallest label
    on ties, and keeps its label when it has no neighbours."""
    vids = np.unique(vids)
    n = len(vids)
    s, d = symmetric(src, dst)
    si, di = np.searchsorted(vids, s), np.searchsorted(vids, d)
    label = np.arange(n)  # label as an index into the sorted vids
    for _ in range(n_iterations):
        key = di.astype(np.int64) * n + label[si]
        uniq, cnt = np.unique(key, return_counts=True)
        v, lab = uniq // n, uniq % n
        # best = max count, then min label: sort by (v, -cnt, lab)
        order = np.lexsort((lab, -cnt, v))
        v, lab = v[order], lab[order]
        first = np.ones(len(v), bool)
        first[1:] = v[1:] != v[:-1]
        new = label.copy()
        new[v[first]] = lab[first]
        changed = (new != label).any()
        label = new
        if not changed:
            break
    return dict(zip(vids.tolist(), vids[label].tolist()))


def triangles(src: np.ndarray, dst: np.ndarray) -> int:
    """Exact number of distinct undirected triangles."""
    s, d = clean(src, dst)
    lo, hi = np.minimum(s, d), np.maximum(s, d)
    e = pd.DataFrame({"u": lo, "v": hi}).drop_duplicates()
    con = duckdb.connect()
    con.register("e", e)
    n = con.execute(
        "select count(*) from e a join e b on a.v = b.u join e c on c.u = a.u and c.v = b.v"
    ).fetchone()[0]
    con.close()
    return int(n)


def wedges_oriented(src: np.ndarray, dst: np.ndarray) -> int:
    """Wedges the degree-oriented triangle join enumerates: the sum over
    vertices of C(forward degree, 2), edges oriented low -> high by
    (degree, vid). Computed from degrees, not measured."""
    s, d = symmetric(src, dst)
    vids, deg = np.unique(s, return_counts=True)
    keep = s < d
    a, b = s[keep], d[keep]
    da, db = deg[np.searchsorted(vids, a)], deg[np.searchsorted(vids, b)]
    fwd_src = np.where((da < db) | ((da == db) & (a < b)), a, b)
    fwd = np.unique(fwd_src, return_counts=True)[1].astype(np.int64)
    return int((fwd * (fwd - 1) // 2).sum())

"""Independent driver-side oracles (pure python/numpy — no Spark).

Mirrors the reference's trace-diff methodology
(``tools/compare_traces.py``): an independent implementation computes
per-vertex goldens; the engine must match exactly (labels) or to
allclose 1e-6 (PageRank — the north rule tolerance).
"""

from __future__ import annotations

from collections import Counter, defaultdict

import numpy as np


def union_find_components(pairs: list[tuple[int, int]]) -> dict[int, int]:
    """vid -> min vid of its weakly-connected component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for s, d in pairs:
        rs, rd = find(s), find(d)
        if rs != rd:
            parent[max(rs, rd)] = min(rs, rd)
    return {v: find(v) for v in parent}


def pagerank_oracle(
    pairs: list[tuple[int, int]],
    alpha: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 500,
    n_iter: int | None = None,
) -> dict[int, float]:
    """Power iteration with dangling-mass redistribution (float64).

    ``n_iter`` pins an exact iteration count (for bounded-iteration
    equivalence tests); otherwise iterate to ``max |Δ| < tol``.
    """
    vids = sorted({v for e in pairs for v in e})
    idx = {v: i for i, v in enumerate(vids)}
    n = len(vids)
    out_deg = np.zeros(n)
    by_dst: dict[int, list[int]] = defaultdict(list)
    for s, d in set(pairs):
        if s == d:
            continue
        out_deg[idx[s]] += 1
        by_dst[idx[d]].append(idx[s])
    rank = np.full(n, 1.0 / n)
    it = 0
    while True:
        it += 1
        contrib = np.where(out_deg > 0, rank / np.maximum(out_deg, 1), 0.0)
        dangling = rank[out_deg == 0].sum()
        new = np.full(n, (1.0 - alpha) / n + alpha * dangling / n)
        for d, srcs in by_dst.items():
            new[d] += alpha * contrib[srcs].sum()
        delta = np.abs(new - rank).max()
        rank = new
        if n_iter is not None:
            if it >= n_iter:
                break
        elif delta < tol or it >= max_iter:
            break
    return {v: float(rank[idx[v]]) for v in vids}


def triangle_count_oracle(pairs: list[tuple[int, int]]) -> int:
    """Brute-force undirected triangle count."""
    adj: dict[int, set[int]] = defaultdict(set)
    for s, d in pairs:
        if s != d:
            adj[s].add(d)
            adj[d].add(s)
    count = 0
    for u in adj:
        for v in adj[u]:
            if v <= u:
                continue
            count += sum(1 for w in adj[u] & adj[v] if w > v)
    return count


def per_vertex_triangles_oracle(pairs: list[tuple[int, int]]) -> dict[int, int]:
    """Triangles through each vertex (each triangle counted at all 3)."""
    adj: dict[int, set[int]] = defaultdict(set)
    for s, d in pairs:
        if s != d:
            adj[s].add(d)
            adj[d].add(s)
    out: dict[int, int] = {v: 0 for v in adj}
    for u in adj:
        for v in adj[u]:
            if v <= u:
                continue
            for w in adj[u] & adj[v]:
                if w > v:
                    out[u] += 1
                    out[v] += 1
                    out[w] += 1
    return out


def four_cliques_oracle(pairs: list[tuple[int, int]]) -> set[tuple[int, int, int, int]]:
    """Brute-force 4-cliques as id-sorted vertex tuples."""
    adj: dict[int, set[int]] = defaultdict(set)
    for s, d in pairs:
        if s != d:
            adj[s].add(d)
            adj[d].add(s)
    out = set()
    for u in adj:
        for v in adj[u]:
            if v <= u:
                continue
            for w in adj[u] & adj[v]:
                if w <= v:
                    continue
                for x in adj[u] & adj[v] & adj[w]:
                    if x > w:
                        out.add((u, v, w, x))
    return out


def min_label_propagation_oracle(
    pairs: list[tuple[int, int]], n_iter: int
) -> dict[int, int]:
    """Exactly ``n_iter`` synchronous min-label rounds, NO pointer
    jumping — matches the reference's per-iteration trace semantics
    (test/connected_components.c:88-112)."""
    adj: dict[int, set[int]] = defaultdict(set)
    for s, d in pairs:
        if s != d:
            adj[s].add(d)
            adj[d].add(s)
    labels = {v: v for v in adj}
    for _ in range(n_iter):
        new = dict(labels)
        for v in adj:
            m = min((labels[u] for u in adj[v]), default=labels[v])
            new[v] = min(labels[v], m)
        labels = new
    return labels


def mode_label_propagation_oracle(
    pairs: list[tuple[int, int]], n_iter: int
) -> dict[int, int]:
    """Synchronous mode-LP with deterministic min-label tie-break."""
    adj: dict[int, set[int]] = defaultdict(set)
    for s, d in pairs:
        if s != d:
            adj[s].add(d)
            adj[d].add(s)
    labels = {v: v for v in adj}
    for _ in range(n_iter):
        new = {}
        for v in adj:
            if not adj[v]:
                new[v] = labels[v]
                continue
            counts = Counter(labels[u] for u in adj[v])
            best = max(counts.items(), key=lambda kv: (kv[1], -kv[0]))
            new[v] = best[0]
        labels = new
    return labels


def hits_oracle(
    pairs: list[tuple[int, int]], n_iterations: int
) -> tuple[dict[int, float], dict[int, float]]:
    """Synchronous Kleinberg HITS with L2 normalization per half-step;
    returns (hub, auth) dicts over every vertex."""
    import math

    verts = sorted({v for e in pairs for v in e})
    hub = {v: 1.0 for v in verts}
    auth = {v: 1.0 for v in verts}
    for _ in range(n_iterations):
        auth = {v: 0.0 for v in verts}
        for s, d in pairs:
            auth[d] += hub[s]
        n = math.sqrt(sum(x * x for x in auth.values()))
        auth = {v: (x / n if n > 0 else 0.0) for v, x in auth.items()}
        hub = {v: 0.0 for v in verts}
        for s, d in pairs:
            hub[s] += auth[d]
        n = math.sqrt(sum(x * x for x in hub.values()))
        hub = {v: (x / n if n > 0 else 0.0) for v, x in hub.items()}
    return hub, auth


def kcore_oracle(pairs: list[tuple[int, int]], k: int) -> dict[int, int]:
    """Peel to the k-core; returns {vid: in-core degree} for survivors."""
    adj: dict[int, set[int]] = {}
    for s, d in pairs:
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    alive = set(adj)
    while True:
        deg = {v: len(adj[v] & alive) for v in alive}
        drop = {v for v, dv in deg.items() if dv < k}
        if not drop:
            return {v: deg[v] for v in alive}
        alive -= drop
        if not alive:
            return {}


def ppr_oracle(
    pairs: list[tuple[int, int]],
    seeds: set[int],
    alpha: float = 0.85,
    n_iterations: int = 3,
) -> dict[int, float]:
    """Synchronous personalized PageRank: restart AND dangling mass
    re-enter at the seed distribution (uniform over ``seeds``)."""
    verts = sorted({v for e in pairs for v in e} | seeds)
    p = {v: (1.0 / len(seeds) if v in seeds else 0.0) for v in verts}
    out: dict[int, list[int]] = {}
    for s, d in pairs:
        out.setdefault(s, []).append(d)
    rank = dict(p)
    for _ in range(n_iterations):
        dangling = sum(r for v, r in rank.items() if v not in out)
        nxt = {v: 0.0 for v in verts}
        for s, ds in out.items():
            w = rank[s] / len(ds)
            for d in ds:
                nxt[d] += w
        rank = {
            v: (1 - alpha) * p[v] + alpha * (nxt[v] + dangling * p[v])
            for v in verts
        }
    return rank


def ktruss_oracle(
    pairs: list[tuple[int, int]], k: int
) -> dict[tuple[int, int], int]:
    """Peel to the k-truss; returns {(a,b) canonical: in-truss support}."""
    alive = {(min(s, d), max(s, d)) for s, d in pairs if s != d}
    while True:
        adj: dict[int, set[int]] = {}
        for a, b in alive:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        sup = {e: len(adj[e[0]] & adj[e[1]]) for e in alive}
        drop = {e for e, s in sup.items() if s < k - 2}
        if not drop:
            return sup
        alive -= drop
        if not alive:
            return {}

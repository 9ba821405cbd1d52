"""Seeded benchmark inputs, generated with numpy and written once as Parquet.

Every input is a pure function of ``(workload, seed, size)`` and is
cached under ``perfbench/.cache/<workload>-s<seed>-<size>-<knobs hash>/``
(git-ignored).
The program under test only ever reads these files.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
CACHE = os.path.join(HERE, ".cache")

#: per-size knobs; ``tiny`` is the smoke-test scale
SIZES = {
    "repo-linkgraph": {
        "bench": {"files": 6000, "files_per_repo": 60, "vendored": 0.05, "min_refs": 3, "max_refs": 10,
                  "local_share": 0.7, "popular": 24, "popular_share": 0.1, "body_lines": 12},
        "tiny": {"files": 300, "files_per_repo": 30, "vendored": 0.05, "min_refs": 3, "max_refs": 10,
                 "local_share": 0.7, "popular": 4, "popular_share": 0.1, "body_lines": 2},
    },
    "rmat-skew": {
        "bench": {"scale": 13, "edges": 40000, "a": 0.57, "b": 0.19, "c": 0.19},
        "tiny": {"scale": 8, "edges": 1200, "a": 0.57, "b": 0.19, "c": 0.19},
    },
    "stream-ingest": {
        "bench": {"vertices": 1500, "base": 4500, "warm_drops": 1, "drops": 40,
                  "drop_edges": 60, "dup_share": 0.25, "new_vertex_share": 0.1},
        "tiny": {"vertices": 200, "base": 600, "warm_drops": 1, "drops": 3,
                 "drop_edges": 20, "dup_share": 0.25, "new_vertex_share": 0.1},
    },
}

_LANGS = np.array(["py", "c", "java", "js"])
_N_MODULES = 16


def _import_line(lang: str, token: str) -> str:
    mod, name = token.split("/")
    if lang == "py":
        return f"import {mod}.{name}"
    if lang == "java":
        return f"import {mod}.{name};"
    if lang == "c":
        return f'#include "{mod}/{name}.h"'
    return f"const {name} = require('{mod}/{name}');"


_BODY = {
    "py": "def f{k}(x):\n    return x + {k}",
    "java": "int f{k}(int x) {{ return x + {k}; }}",
    "c": "static int f{k}(int x) {{ return x + {k}; }}",
    "js": "function f{k}(x) {{ return x + {k}; }}",
}


def _repos(rng: np.random.Generator, files: int, files_per_repo: int, vendored: float,
           min_refs: int, max_refs: int, local_share: float, popular: int, popular_share: float,
           body_lines: int) -> tuple[pd.DataFrame, np.ndarray, np.ndarray]:
    """The ``repos`` table plus the expected reference pairs as row indices.

    File ``i`` lives at ``src/m<i mod 16>/f<i>.<ext>`` in repo
    ``i // files_per_repo``. A ``vendored`` share of files is copied (same
    path) into the next repo, so a reference to it resolves to both copies
    — the cross-repo linking ``ref_edges`` performs. Each row imports
    ``min_refs`` to ``max_refs`` files: a ``local_share`` near itself (same repo), the rest anywhere, and a
    ``popular_share`` of imports go to a few widely used files, which
    become the graph's hubs.
    """
    n_repos = max(files // files_per_repo, 2)
    ids = np.arange(files)
    copies = np.sort(rng.choice(files, size=int(files * vendored), replace=False))
    row_file = np.concatenate([ids, copies])
    row_repo = np.concatenate([ids // files_per_repo % n_repos,
                               (copies // files_per_repo + 1) % n_repos])
    n_rows = len(row_file)
    lang = _LANGS[rng.integers(0, 4, n_rows)]
    n_refs = rng.integers(min_refs, max_refs + 1, n_rows)
    near = rng.random((n_rows, max_refs)) < local_share
    offs = rng.integers(1, files_per_repo, (n_rows, max_refs)) * np.where(rng.random((n_rows, max_refs)) < 0.5, -1, 1)
    far = rng.integers(0, files, (n_rows, max_refs))
    targets = np.where(near, (row_file[:, None] + offs) % files, far)
    hub = rng.random((n_rows, max_refs)) < popular_share
    targets = np.where(hub, rng.integers(0, popular, (n_rows, max_refs)) * (files // popular), targets)

    rows_of_file: dict[int, list[int]] = {}
    for r, fid in enumerate(row_file):
        rows_of_file.setdefault(int(fid), []).append(r)

    content, src_rows, dst_rows = [], [], []
    for r in range(n_rows):
        lg = str(lang[r])
        toks = [f"m{t % _N_MODULES}/f{t}" for t in targets[r, : n_refs[r]]]
        body = [_BODY[lg].format(k=(r + k) % 97) for k in range(body_lines)]
        content.append("\n".join([_import_line(lg, t) for t in toks] + body) + "\n")
        for t in targets[r, : n_refs[r]]:
            for d in rows_of_file[int(t)]:
                src_rows.append(r)
                dst_rows.append(d)
    ext = {"py": "py", "c": "c", "java": "java", "js": "js"}
    df = pd.DataFrame({
        "repo": [f"r{x:05d}" for x in row_repo],
        "path": [f"src/m{f % _N_MODULES}/f{f}.{ext[str(l)]}" for f, l in zip(row_file, lang)],
        "commit": [f"{x:040x}" for x in rng.integers(0, 2**62, n_rows)],
        "lang": lang.astype(str),
        "content": content,
    })
    return df, np.array(src_rows, np.int64), np.array(dst_rows, np.int64)


def _rmat(rng: np.random.Generator, scale: int, edges: int, a: float, b: float, c: float) -> pd.DataFrame:
    """Power-law R-MAT edges over ``2**scale`` vertex ids (raw, unpermuted:
    the hubs sit at low ids). Duplicates and self-loops stay in the input;
    the graph layer cleans them."""
    src = np.zeros(edges, np.int64)
    dst = np.zeros(edges, np.int64)
    for bit in range(scale):
        r = rng.random(edges)
        src |= (r >= a + b).astype(np.int64) << bit
        dst |= (((r >= a) & (r < a + b)) | (r >= a + b + c)).astype(np.int64) << bit
    return pd.DataFrame({"src": src, "dst": dst})


def _stream(rng: np.random.Generator, vertices: int, base: int, warm_drops: int, drops: int,
            drop_edges: int, dup_share: float, new_vertex_share: float) -> list[pd.DataFrame]:
    """Base drop, then small drops. Each drop replays a fixed share of
    already-offered edges; the rest are random edges, some touching
    vertices never seen before. No self-loops, so every offered edge is
    either new or a duplicate."""
    def rand_edges(m: int, next_vid: int) -> tuple[np.ndarray, np.ndarray, int]:
        s = rng.integers(0, vertices, m)
        d = (s + rng.integers(1, vertices, m)) % vertices
        fresh = rng.random(m) < new_vertex_share
        d = np.where(fresh, next_vid + np.arange(m), d)
        return s, d, next_vid + m

    s, d, next_vid = rand_edges(base, vertices)
    out = [pd.DataFrame({"src": s, "dst": d})]
    offered = out[0]
    n_dup = int(round(drop_edges * dup_share))
    for _ in range(warm_drops + drops):
        s, d, next_vid = rand_edges(drop_edges - n_dup, next_vid)
        dup = offered.iloc[rng.integers(0, len(offered), n_dup)]
        drop = pd.concat([pd.DataFrame({"src": s, "dst": d}), dup], ignore_index=True)
        drop = drop.iloc[rng.permutation(len(drop))].reset_index(drop=True)
        out.append(drop)
        offered = pd.concat([offered, drop], ignore_index=True)
    return out


def materialize(workload: str, seed: int, size: str) -> str:
    """Generate (once) and return the cache directory for this input."""
    knobs = SIZES[workload][size]
    tag = hashlib.sha1(json.dumps(knobs, sort_keys=True).encode()).hexdigest()[:8]
    path = os.path.join(CACHE, f"{workload}-s{seed}-{size}-{tag}")
    if os.path.exists(os.path.join(path, "_DONE")):
        return path
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    rng = np.random.default_rng([seed, sum(map(ord, workload))])
    if workload == "repo-linkgraph":
        df, src_rows, dst_rows = _repos(rng, **knobs)
        df.to_parquet(os.path.join(path, "repos.parquet"), row_group_size=2048)
        np.savez(os.path.join(path, "refs.npz"), src_rows=src_rows, dst_rows=dst_rows)
    elif workload == "rmat-skew":
        _rmat(rng, **knobs).to_parquet(os.path.join(path, "edges.parquet"))
    else:
        for i, drop in enumerate(_stream(rng, **knobs)):
            drop.to_parquet(os.path.join(path, f"drop-{i:05d}.parquet"))
    open(os.path.join(path, "_DONE"), "w").close()
    return path

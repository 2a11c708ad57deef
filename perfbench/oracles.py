"""NumPy oracles for the benchmark's output checks.

Written independently of the engine's kernels and validated against the
reference's harvested goldens by ``selfcheck.py`` (FIXTURES.md §2).
"""

from __future__ import annotations

import hashlib

import numpy as np


def min_labels(n: int, src: np.ndarray, dst: np.ndarray) -> np.ndarray:
    """Component label = min vertex index of the component, for vertices 0..n-1.

    Label propagation over roots plus pointer jumping: ``lab`` is always a
    forest whose pointers only go down (``lab[x] <= x``), so the component
    minimum is never hooked away and ends as its component's root.
    """
    lab = np.arange(n, dtype=np.int64)
    while True:
        ra, rb = lab[src], lab[dst]
        m = np.minimum(ra, rb)
        new = lab.copy()
        np.minimum.at(new, ra, m)
        np.minimum.at(new, rb, m)
        while True:
            nxt = new[new]
            if np.array_equal(nxt, new):
                break
            new = nxt
        if np.array_equal(new, lab):
            return lab
        lab = new


def label_fingerprint(vertex: np.ndarray, label: np.ndarray) -> tuple[int, int, int, int]:
    """(rows, distinct labels, Σ label, Σ (label·vertex) mod 2³¹−1).

    ``workloads._spark_fingerprint`` computes the same tuple Spark-side.
    """
    v = vertex.astype(np.int64)
    lab = label.astype(np.int64)
    mixed = (lab % 2_147_483_647) * (v % 2_147_483_647) % 2_147_483_647
    return (len(v), len(np.unique(lab)), int(lab.sum()), int(mixed.sum()))


def grid_runs(grid: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(row, col_begin, col_end exclusive) of every run, in scan order."""
    fg = grid != 0
    padded = np.zeros((fg.shape[0], fg.shape[1] + 2), dtype=np.int8)
    padded[:, 1:-1] = fg
    d = np.diff(padded, axis=1)
    rows, begins = np.nonzero(d == 1)
    _, ends = np.nonzero(d == -1)
    return rows, begins, ends


def grid_cross_edges(
    rows: np.ndarray, begins: np.ndarray, ends: np.ndarray, n_cols: int
) -> tuple[np.ndarray, np.ndarray]:
    """Strict-overlap (CROSS) edges between runs of adjacent rows.

    With key = row·(n_cols+1) + col, the runs of row r+1 that overlap run i
    of row r form one contiguous index range, found by two binary searches.
    """
    k = n_cols + 1
    begin_key = rows.astype(np.int64) * k + begins
    end_key = rows.astype(np.int64) * k + ends
    below = (rows.astype(np.int64) + 1) * k
    lo = np.searchsorted(end_key, below + begins, side="right")
    hi = np.searchsorted(begin_key, below + ends, side="left")
    cnt = np.maximum(hi - lo, 0)
    src = np.repeat(np.arange(len(rows), dtype=np.int64), cnt)
    offsets = np.repeat(np.cumsum(cnt) - cnt, cnt)
    dst = np.arange(int(cnt.sum()), dtype=np.int64) - offsets + np.repeat(lo, cnt)
    return src, dst


def grid_oracle(grid: np.ndarray) -> dict:
    """Runs, CROSS edges, dense labels (1-based, min-id rank) and the label
    image sha256 in the reference's uint32 little-endian format."""
    rows, begins, ends = grid_runs(grid)
    src, dst = grid_cross_edges(rows, begins, ends, grid.shape[1])
    comp = min_labels(len(rows), src, dst)
    roots, dense = np.unique(comp, return_inverse=True)
    dense = dense.astype(np.int64) + 1
    img = np.zeros(grid.shape, dtype="<u4")
    widths = ends - begins
    cell_rows = np.repeat(rows, widths)
    cell_cols = np.repeat(begins - np.cumsum(widths) + widths, widths) + np.arange(int(widths.sum()))
    img[cell_rows, cell_cols] = np.repeat(dense, widths)
    return {
        "cells": int(widths.sum()),
        "runs": len(rows),
        "edges": len(src),
        "components": len(roots),
        "fingerprint": label_fingerprint(np.arange(len(rows)), dense),
        "label_sha256": hashlib.sha256(img.tobytes()).hexdigest(),
    }


def _consecutive(df, keys: list[str], col: str) -> tuple[np.ndarray, np.ndarray]:
    """(previous, current) ``col`` for consecutive rows of each ``keys``
    group, in ``commit`` order."""
    df = df.sort_values(keys + ["commit"])
    same = np.ones(len(df) - 1 if len(df) else 0, dtype=bool)
    for k in keys:
        x = df[k].to_numpy()
        same &= x[1:] == x[:-1]
    x = df[col].to_numpy()
    return x[:-1][same], x[1:][same]


def corpus_edges(rows) -> np.ndarray:
    """The corpus edge table (FIXTURES.md §1) as sorted, distinct, canonical
    (src < dst) pairs, from a pandas frame of (repo, path, commit, v, h):
    ``v`` the row's vertex id, ``h`` its (repo, commit) hub id.

    Edges: each row to its hub; consecutive commits of the same (repo,
    path); consecutive commit hubs of the same repo.
    """
    path_prev, path_cur = _consecutive(rows, ["repo", "path"], "v")
    hubs = rows[["repo", "commit", "h"]].drop_duplicates()
    hub_prev, hub_cur = _consecutive(hubs, ["repo"], "h")
    a = np.concatenate([rows["v"].to_numpy(), path_prev, hub_prev]).astype(np.int64)
    b = np.concatenate([rows["h"].to_numpy(), path_cur, hub_cur]).astype(np.int64)
    keep = a != b
    pairs = np.stack([np.minimum(a, b)[keep], np.maximum(a, b)[keep]], axis=1)
    return np.unique(pairs, axis=0)


def pagerank(
    src: np.ndarray, dst: np.ndarray, n_iter: int, alpha: float = 0.85,
    directed: bool = True,
) -> tuple[np.ndarray, np.ndarray]:
    """(vertex ids, ranks) after ``n_iter`` power-iteration steps from the
    uniform vector: set semantics on edges, self-loops dropped, dangling
    mass redistributed uniformly (FIXTURES.md §3)."""
    keep = src != dst
    s, d = src[keep], dst[keep]
    if not directed:
        s, d = np.concatenate([s, d]), np.concatenate([d, s])
    pairs = np.unique(np.stack([s, d], axis=1), axis=0)
    verts, idx = np.unique(pairs.ravel(), return_inverse=True)
    idx = idx.reshape(-1, 2)
    n = len(verts)
    out_deg = np.bincount(idx[:, 0], minlength=n).astype(np.float64)
    dangling = out_deg == 0
    w = 1.0 / out_deg[idx[:, 0]]
    r = np.full(n, 1.0 / n)
    for _ in range(n_iter):
        contrib = np.bincount(idx[:, 1], weights=r[idx[:, 0]] * w, minlength=n)
        r = (1 - alpha) / n + alpha * (contrib + r[dangling].sum() / n)
    return verts, r


def total_triangles(src: np.ndarray, dst: np.ndarray) -> int:
    """Distinct undirected triangles: orient each edge from the lower to the
    higher (degree, id) endpoint and intersect out-neighbour sets."""
    keep = src != dst
    a = np.minimum(src[keep], dst[keep])
    b = np.maximum(src[keep], dst[keep])
    pairs = np.unique(np.stack([a, b], axis=1), axis=0)
    verts, idx = np.unique(pairs.ravel(), return_inverse=True)
    idx = idx.reshape(-1, 2)
    deg = np.bincount(idx.ravel(), minlength=len(verts))
    u, v = idx[:, 0], idx[:, 1]
    fwd = (deg[u] < deg[v]) | ((deg[u] == deg[v]) & (u < v))
    lo, hi = np.where(fwd, u, v), np.where(fwd, v, u)
    out: dict[int, set[int]] = {}
    for x, y in zip(lo.tolist(), hi.tolist()):
        out.setdefault(x, set()).add(y)
    return sum(
        len(nbrs & out[y]) for nbrs in out.values() for y in nbrs if y in out
    )

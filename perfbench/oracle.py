"""Numpy oracles for every output the benchmark checks.

Each function restates the documented semantics of one public call of the
package, independently of its Spark implementation.  They run once per
seed, outside every timed window.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa


def _pairs_by_group(group: np.ndarray, ids: np.ndarray, n: int, max_group: int):
    """Distinct (group, id) rows -> (edge key array src*n+dst, weights,
    number of dropped groups): the capped self-join of ``build_*_graph``."""
    key = np.unique(group.astype(np.int64) * n + ids)
    g, v = key // n, key % n
    starts = np.flatnonzero(np.r_[True, g[1:] != g[:-1]])
    sizes = np.diff(np.r_[starts, len(g)])
    dropped = int((sizes > max_group).sum())
    ok = np.repeat(sizes <= max_group, sizes)
    g, v = g[ok], v[ok]
    starts = np.flatnonzero(np.r_[True, g[1:] != g[:-1]])
    sizes = np.diff(np.r_[starts, len(g)])
    # every position pairs with the later positions of its group
    i, j = _later_pairs(np.repeat(starts + sizes, sizes))
    a, b = v[i], v[j]
    pk = np.minimum(a, b) * n + np.maximum(a, b)
    keys, w = np.unique(pk, return_counts=True)
    return keys, w.astype(np.float64), dropped


def _codes(values) -> tuple[np.ndarray, int]:
    """Dense codes by sorted order (the ``dense_ids`` rank of ``build_*_graph``)."""
    uniq, inv = np.unique(np.asarray(values, dtype=object).astype(str), return_inverse=True)
    return inv.astype(np.int64), len(uniq)


def corpus_graphs(table: pa.Table, max_group: int = 1000) -> dict:
    """Oracle for ``build_file_graph`` and ``build_repo_graph``."""
    repo = np.asarray(table.column("repo").to_pylist(), dtype=object)
    path = np.asarray(table.column("path").to_pylist(), dtype=object)
    commit = np.asarray(table.column("commit").to_pylist(), dtype=object)
    content = np.asarray(table.column("content").to_pylist(), dtype=object)
    out = {}
    fid, nf = _codes(repo + "::" + path)
    ck, _ = _codes(repo + "@" + commit)
    out["file"] = (nf,) + _pairs_by_group(ck, fid, nf, max_group)
    rid, nr = _codes(repo)
    cid, _ = _codes(content)
    out["repo"] = (nr,) + _pairs_by_group(cid, rid, nr, max_group)
    return out


def edge_keys(src: np.ndarray, dst: np.ndarray, n: int) -> np.ndarray:
    return np.asarray(src, dtype=np.int64) * n + np.asarray(dst, dtype=np.int64)


def modularity(src, dst, w, comm) -> float:
    """Q over an undirected edge list (one row per edge, no self-loops)."""
    comm = np.asarray(comm)
    k = int(comm.max()) + 1
    m2 = 2.0 * w.sum()
    deg = np.bincount(src, weights=w, minlength=len(comm)) + np.bincount(
        dst, weights=w, minlength=len(comm)
    )
    tot = np.bincount(comm, weights=deg, minlength=k)
    same = comm[src] == comm[dst]
    inner = 2.0 * np.bincount(comm[src[same]], weights=w[same], minlength=k)
    return float((inner / m2 - (tot / m2) ** 2).sum())


def pagerank(src, dst, w, n: int, damping: float, iters: int) -> np.ndarray:
    """Directed power iteration; dangling mass spread uniformly."""
    out_w = np.bincount(src, weights=w, minlength=n)
    dangling = out_w == 0
    frac = w / out_w[src]
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        r = (
            (1.0 - damping) / n
            + damping * np.bincount(dst, weights=frac * r[src], minlength=n)
            + damping * r[dangling].sum() / n
        )
    return r


def components(src, dst, n: int) -> np.ndarray:
    """Min vertex id per component (pointer jumping over edges)."""
    label = np.arange(n)
    while True:
        lo = np.minimum(label[src], label[dst])
        new = label.copy()
        np.minimum.at(new, src, lo)
        np.minimum.at(new, dst, lo)
        new = new[new]
        if np.array_equal(new, label):
            return label
        label = new


def triangles(src, dst, n: int) -> int:
    """Exact triangle count of the simple undirected graph."""
    lo, hi = np.minimum(src, dst), np.maximum(src, dst)
    keep = lo != hi
    und = np.unique(lo[keep] * n + hi[keep])
    a, b = und // n, und % n
    deg = np.bincount(a, minlength=n) + np.bincount(b, minlength=n)
    # orient low (degree, id) -> high, so every out-degree is O(sqrt m)
    rank = np.lexsort((np.arange(n), deg))
    pos = np.empty(n, dtype=np.int64)
    pos[rank] = np.arange(n)
    u = np.where(pos[a] < pos[b], a, b)
    v = np.where(pos[a] < pos[b], b, a)
    order = np.lexsort((v, u))
    u, v = u[order], v[order]
    # every wedge (u; v[i], v[j]) of two out-neighbours, closed or not
    i, j = _later_pairs(np.searchsorted(u, np.arange(n), side="right")[u])
    x, y = v[i], v[j]
    return int(np.isin(np.minimum(x, y) * n + np.maximum(x, y), und).sum())


def _later_pairs(row_end: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """All index pairs (i, j), i < j < row_end[i], of a sorted grouped array
    whose group ends are ``row_end``."""
    cnt = row_end - np.arange(len(row_end)) - 1
    i = np.repeat(np.arange(len(row_end)), cnt)
    first = np.repeat(np.cumsum(cnt) - cnt, cnt)
    return i, i + 1 + (np.arange(len(i)) - first)

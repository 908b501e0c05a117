"""Output checks: the expected answers each pass is compared with.

PageRank answers come straight from ``linkgraph.oracle``. Connected
components, label propagation and triangle counting use the vectorized
checkers below, because the oracle's versions loop in Python per vertex and
cannot run at benchmark sizes; ``perfbench/selftest.py`` proves them equal
to ``linkgraph.oracle`` on small graphs.
"""

from __future__ import annotations

import numpy as np
import pyarrow.parquet as pq


def simple_undirected(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Both directions of every distinct non-loop edge, sorted by (s, t) —
    the ``symmetrize`` view the components/LPA/triangle operators use."""
    s = np.asarray(src, np.int64)
    t = np.asarray(dst, np.int64)
    keep = s != t
    s, t = s[keep], t[keep]
    pairs = np.unique(np.stack([np.concatenate([s, t]), np.concatenate([t, s])], 1), axis=0)
    return pairs[:, 0], pairs[:, 1]


def components(src: np.ndarray, dst: np.ndarray, n: int) -> np.ndarray:
    """Undirected components of dense ids [0, n); label = min id."""
    s, t = simple_undirected(src, dst)
    labels = np.arange(n, dtype=np.int64)
    while True:
        new = labels.copy()
        np.minimum.at(new, t, labels[s])
        new = new[new]  # pointer jumping: follow the label's own label
        if np.array_equal(new, labels):
            return labels
        labels = new


def label_propagation(src: np.ndarray, dst: np.ndarray, n: int, max_iter: int = 10) -> np.ndarray:
    """Synchronous LPA with the semantics of ``oracle.label_propagation``:
    most frequent neighbour label, ties to the smaller label, isolated
    vertices keep theirs, early stop at a fixpoint."""
    s, t = simple_undirected(src, dst)
    labels = np.arange(n, dtype=np.int64)
    for _ in range(max_iter):
        pair, cnt = np.unique(s * n + labels[t], return_counts=True)
        node, lab = pair // n, pair % n
        # per node: highest count first, then smallest label
        order = np.lexsort((lab, -cnt, node))
        node, lab = node[order], lab[order]
        first = np.ones(len(node), dtype=bool)
        first[1:] = node[1:] != node[:-1]
        new = labels.copy()
        new[node[first]] = lab[first]
        if np.array_equal(new, labels):
            break
        labels = new
    return labels


def triangle_count(src: np.ndarray, dst: np.ndarray, n: int) -> int:
    """Triangles of the simple undirected view: orient each edge from the
    lower (degree, id) end, then close every oriented wedge u->v->w with a
    lookup of u->w."""
    s, t = simple_undirected(src, dst)
    deg = np.bincount(s, minlength=n)
    fwd = (deg[s] < deg[t]) | ((deg[s] == deg[t]) & (s < t))
    u, v = s[fwd], t[fwd]
    order = np.lexsort((v, u))
    u, v = u[order], v[order]
    indptr = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(np.bincount(u, minlength=n), out=indptr[1:])
    # every wedge (u, v, w) with w an out-neighbour of v
    reps = indptr[v + 1] - indptr[v]
    wu = np.repeat(u, reps)
    starts = np.repeat(indptr[v], reps)
    offs = np.arange(reps.sum()) - np.repeat(np.cumsum(reps) - reps, reps)
    ww = v[starts + offs]
    keys = u * n + v  # sorted, since (u, v) is
    q = wu * n + ww
    pos = np.searchsorted(keys, q).clip(max=len(keys) - 1)
    return int((keys[pos] == q).sum())


def dense(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(ids, src_idx, dst_idx): sorted distinct ids and the edges in [0, n)."""
    ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    return ids, inv[: len(src)], inv[len(src) :]


def read_columns(path: str, *cols: str) -> list[np.ndarray]:
    """Columns of a parquet dataset as numpy arrays, rows sorted by the
    first column."""
    table = pq.read_table(path, columns=list(cols))
    arrays = [table.column(c).to_numpy() for c in cols]
    order = np.argsort(arrays[0], kind="stable")
    return [a[order] for a in arrays]


def check_ranks(path: str, ids: np.ndarray, expected: np.ndarray) -> list[str]:
    """A published [node, rank] parquet against the oracle vector."""
    node, rank = read_columns(path, "node", "rank")
    if not np.array_equal(node, ids):
        return [f"rank rows: {len(node)} nodes, expected {len(ids)} (or ids differ)"]
    err = float(np.max(np.abs(rank - expected)))
    return [] if err <= 1e-6 else [f"ranks differ from the oracle by {err:.3g} > 1e-6"]


def check_labels(path: str, col: str, expected: np.ndarray, what: str) -> list[str]:
    node, label = read_columns(path, "node", col)
    if not np.array_equal(node, np.arange(len(expected))):
        return [f"{what}: {len(node)} label rows, expected {len(expected)}"]
    bad = int((label != expected).sum())
    return [f"{what}: {bad} labels differ"] if bad else []

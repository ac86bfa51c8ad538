"""NumPy oracles for every operator the benchmark calls.

Each function takes a symmetric :class:`inputs.Graph` and returns the
exact answer as ``(vids, values)`` over the sorted vertex ids.  They are
computed once per run, before timing, and share nothing with the
package's code paths.
"""

from __future__ import annotations

import numpy as np

from inputs import Graph


def _dense(g: Graph) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    vids = g.vids()
    return vids, np.searchsorted(vids, g.src), np.searchsorted(vids, g.dst)


def components(g: Graph) -> tuple[np.ndarray, np.ndarray]:
    """Min-vid component labels by min-hooking plus shortcutting
    (FastSV-style), which needs O(log n) rounds on any diameter; the
    fixpoint is checked to be constant on every edge."""
    vids, s, d = _dense(g)
    f = np.arange(len(vids))
    while True:
        prev = f.copy()
        gf = f[f]
        np.minimum.at(f, f[s], gf[d])  # hook the parent of s
        np.minimum.at(f, s, gf[d])  # aggressive hooking
        f = np.minimum(f, f[f])  # shortcut
        if np.array_equal(f, prev):
            break
    if np.any(f[s] != f[d]):
        raise AssertionError("component oracle did not converge")
    return vids, vids[f]


def _power_iteration(g: Graph, damping: float):
    """Yield ``(vids, ranks, step L1 delta)`` after each synchronous
    step from the uniform vector, dangling mass spread uniformly (the
    operator's recurrence)."""
    vids, s, d = _dense(g)
    n = len(vids)
    deg = np.bincount(s, minlength=n).astype(np.float64)
    dangling = deg == 0
    safe = np.where(dangling, 1.0, deg)
    p = np.full(n, 1.0 / n)
    r = p.copy()
    while True:
        contrib = np.bincount(d, weights=(r / safe)[s], minlength=n)
        new = (1.0 - damping) * p + damping * (contrib + r[dangling].sum() * p)
        l1 = float(np.abs(new - r).sum())
        r = new
        yield vids, r, l1


def pagerank(g: Graph, iterations: int, damping: float = 0.85) -> tuple[np.ndarray, np.ndarray]:
    """Ranks after ``iterations`` >= 1 power-iteration steps."""
    for k, (vids, r, _) in enumerate(_power_iteration(g, damping), 1):
        if k == iterations:
            return vids, r


def pagerank_supersteps(g: Graph, batch: int = 1, damping: float = 0.85,
                        approx_precision: float = 1e-6) -> int:
    """Superstep at which the operator stops: the first multiple of
    ``batch`` whose step L1 delta is below ``approx_precision * n``."""
    for k, (vids, _, l1) in enumerate(_power_iteration(g, damping), 1):
        if k % batch == 0 and l1 < approx_precision * len(vids):
            return k


def label_propagation(g: Graph, max_iterations: int = 10) -> tuple[np.ndarray, np.ndarray]:
    """Synchronous weighted LPA: each vertex adopts the label with the
    largest incident vote weight (ties to the smaller label), stopping
    at a fixpoint, on a period-2 cycle, or after ``max_iterations`` —
    a vectorized form of the sequential oracle in the test suite."""
    vids, s, d = _dense(g)
    n = len(vids)
    w = g.weight
    lab = np.arange(n)
    prev2 = None
    for _ in range(max_iterations):
        key = d * n + lab[s]
        uk, inv = np.unique(key, return_inverse=True)
        votes = np.bincount(inv, weights=w)
        rv, rl = uk // n, uk % n
        best = np.lexsort((rl, -votes, rv))
        rv, rl = rv[best], rl[best]
        first = np.ones(len(rv), dtype=bool)
        first[1:] = rv[1:] != rv[:-1]
        new = lab.copy()
        new[rv[first]] = rl[first]
        if np.array_equal(new, lab):
            break
        if prev2 is not None and np.array_equal(new, prev2):
            lab = new
            break
        prev2, lab = lab, new
    return vids, vids[lab]


def _best_neighbor_forest(n: int, s: np.ndarray, d: np.ndarray, w: np.ndarray) -> np.ndarray:
    """Min-index labels of the forest formed by each node's heaviest
    edge (ties to the larger neighbor index)."""
    order = np.lexsort((-d, -w, s))
    ss, dd = s[order], d[order]
    first = np.ones(len(ss), dtype=bool)
    first[1:] = ss[1:] != ss[:-1]
    fs, fd = ss[first], dd[first]
    if len(fs) == 0:
        return np.arange(n)
    forest = Graph(np.concatenate([fs, fd]), np.concatenate([fd, fs]), np.ones(2 * len(fs)))
    sub_v, sub_lab = components(forest)
    lab = np.arange(n)
    lab[sub_v] = sub_lab
    return lab


def affinity(g: Graph, rounds: int = 2) -> tuple[np.ndarray, np.ndarray]:
    """Affinity clustering with sum linkage: best-neighbor forest,
    components, contract with summed weights, repeat; labels are the
    min original vid of each cluster (the DuckDB ``affinity_bipartite``
    oracle's recurrence, any number of rounds)."""
    vids, s, d = _dense(g)
    n = len(vids)
    w = g.weight.copy()
    label = np.arange(n)  # original vertex -> current cluster (min member)
    cs, cd = s, d
    for _ in range(rounds):
        lab = _best_neighbor_forest(n, cs, cd, w)
        label = lab[label]
        ls, ld = lab[cs], lab[cd]
        keep = ls != ld
        key = ls[keep] * n + ld[keep]
        uk, inv = np.unique(key, return_inverse=True)
        w = np.bincount(inv, weights=w[keep])
        cs, cd = uk // n, uk % n
    return vids, vids[label]


def triangles(g: Graph) -> tuple[np.ndarray, np.ndarray]:
    """Per-vertex triangle counts: orient each undirected edge from the
    lower (degree, id) endpoint, close every out-out wedge by lookup."""
    vids, s, d = _dense(g)
    n = len(vids)
    und = s < d
    u, v = s[und], d[und]
    deg = np.bincount(s, minlength=n)
    rank = np.lexsort((np.arange(n), deg))
    pos = np.empty(n, dtype=np.int64)
    pos[rank] = np.arange(n)
    lo = np.where(pos[u] < pos[v], u, v)
    hi = np.where(pos[u] < pos[v], v, u)
    order = np.argsort(lo, kind="stable")
    lo, hi = lo[order], hi[order]
    start = np.searchsorted(lo, np.arange(n + 1))
    keys = np.sort(lo * n + hi)
    # every wedge (a -> b, a -> c) over pairs of a's out-edges i < j
    block_end = start[lo + 1]
    partners = block_end - np.arange(len(lo)) - 1
    i = np.repeat(np.arange(len(lo)), partners)
    j = i + 1 + np.arange(len(i)) - np.repeat(np.cumsum(partners) - partners, partners)
    a, b, c = lo[i], hi[i], hi[j]
    bc_lo = np.where(pos[b] < pos[c], b, c)
    bc_hi = np.where(pos[b] < pos[c], c, b)
    k2 = bc_lo * n + bc_hi
    closed = np.zeros(len(k2), dtype=bool)
    if len(keys):
        at = np.minimum(np.searchsorted(keys, k2), len(keys) - 1)
        closed = keys[at] == k2
    count = np.zeros(n, dtype=np.int64)
    for x in (a[closed], b[closed], c[closed]):
        count += np.bincount(x, minlength=n)
    return vids, count

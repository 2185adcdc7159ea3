"""Independent references for the benchmark's correctness checks.

Each works on positional edge arrays (``src``/``dst`` index into the sorted
node ids) and shares no code with ``metagraph_spark``: PageRank is a plain
numpy power iteration, connected components come from networkx, and label
propagation is a numpy count of (node, label) vote pairs.
"""

from __future__ import annotations

import networkx as nx
import numpy as np


def pagerank(src, dst, n, damping=0.85, maxiter=100, tolerance=1e-6):
    """Unweighted PageRank with uniform teleport and dangling mass spread
    uniformly; stops at the first iterate with ``sum|r' - r| < n * tol``.
    Returns ``(ranks, iterations)``."""
    outdeg = np.bincount(src, minlength=n).astype(np.float64)
    dangling = outdeg == 0
    inv = np.where(dangling, 0.0, 1.0 / np.maximum(outdeg, 1.0))
    r = np.full(n, 1.0 / n)
    for it in range(1, maxiter + 1):
        gathered = np.bincount(dst, weights=(r * inv)[src], minlength=n)
        new = (damping * gathered + damping * r[dangling].sum() / n
               + (1.0 - damping) / n)
        err = np.abs(new - r).sum()
        r = new
        if err < n * tolerance:
            return r, it
    raise RuntimeError(f"reference pagerank did not converge in {maxiter}")


def components(src, dst, n):
    """Per node, the smallest position in its connected component."""
    g = nx.Graph()
    g.add_nodes_from(range(n))
    g.add_edges_from(zip(src.tolist(), dst.tolist()))
    label = np.empty(n, dtype=np.int64)
    for comp in nx.connected_components(g):
        members = np.fromiter(comp, dtype=np.int64)
        label[members] = members.min()
    return label


def label_propagation(src, dst, n, max_rounds=50):
    """Synchronous LPA over the deduplicated undirected edge set plus one
    self-vote per node: the winner has the most votes, ties to the smallest
    label. Stops when no label changes or after ``max_rounds``."""
    keep = src != dst
    lo = np.minimum(src[keep], dst[keep])
    hi = np.maximum(src[keep], dst[keep])
    pairs = np.unique(lo * np.int64(n) + hi)
    lo, hi = pairs // n, pairs % n
    voter = np.concatenate([lo, hi, np.arange(n)])
    target = np.concatenate([hi, lo, np.arange(n)])
    lab = np.arange(n, dtype=np.int64)
    for _ in range(max_rounds):
        keys, counts = np.unique(target * np.int64(n) + lab[voter],
                                 return_counts=True)
        node, cand = keys // n, keys % n
        order = np.lexsort((cand, -counts, node))
        first = np.r_[True, node[order][1:] != node[order][:-1]]
        new = lab.copy()
        new[node[order][first]] = cand[order][first]
        if np.array_equal(new, lab):
            break
        lab = new
    return lab


def canonical_partition(labels: np.ndarray) -> np.ndarray:
    """Relabel each group by its first member position, so two labelings
    compare equal exactly when they induce the same partition."""
    _, first, inverse = np.unique(labels, return_index=True,
                                  return_inverse=True)
    return first[inverse]

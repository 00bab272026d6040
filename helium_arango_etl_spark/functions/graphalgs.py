"""Native graph algorithms for per-group (per-city) metrics.

The reference runs networkx inside its own Python process
(arango_queries.py:161-167):

    g = nx.DiGraph(); g.add_weighted_edges_from(edges)   # weight = distance_m
    bc = nx.betweenness_centrality(g)                    # unweighted, normalized
    pg = nx.pagerank(g)                                  # alpha=.85, weight='weight'

networkx is not a dependency here; these are faithful reimplementations of
the exact algorithms + defaults the reference invokes, over plain numpy:

- :func:`pagerank` — power iteration on the weight-normalized transition
  matrix, uniform teleport, dangling mass redistributed uniformly,
  tol = 1e-6 * N on L1 error, max 100 iterations (networkx semantics).
- :func:`betweenness_centrality` — exact Brandes' algorithm on every
  graph, unweighted BFS, normalized by 1/((n-1)(n-2)) for directed graphs
  (networkx default ``normalized=True``; no endpoint counting).
- :func:`hits` — networkx HITS on the graph without its weights.

Each algorithm takes an :class:`ArcGraph`, built once per graph and shared
by all three, and returns one score per ``graph.nodes`` entry.  The build
is deterministic: nodes in sorted order, arcs in (src, dst) order,
duplicate (src, dst) arcs collapsed last-wins exactly like
``DiGraph.add_weighted_edges_from``.

City subgraphs are small (hundreds to thousands of nodes), so the engine
runs these on the driver, one city at a time (operators/graph.py).
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pandas as pd


class ArcGraph(NamedTuple):
    """A directed graph as a sorted node index plus parallel arc arrays."""

    nodes: np.ndarray  # node names, sorted
    src: np.ndarray  # int64 index into ``nodes``, per arc
    dst: np.ndarray
    weight: np.ndarray  # float64, per arc

    @classmethod
    def from_arcs(cls, src, dst, weight) -> "ArcGraph":
        """Index the nodes of the parallel ``src``/``dst``/``weight``
        sequences, vectorised: one sorted factorization of the endpoints,
        then one unique over the arc codes, which keeps each (src, dst)'s
        last weight."""
        m = len(src)
        codes, nodes = pd.factorize(np.concatenate([src, dst]), sort=True)
        s, d = codes[:m].astype(np.int64), codes[m:].astype(np.int64)
        # the first hit of each code in the reversed arcs is its last
        # occurrence; unique returns the codes in (src, dst) order
        _, first_rev = np.unique((s * len(nodes) + d)[::-1], return_index=True)
        keep = m - 1 - first_rev
        return cls(nodes, s[keep], d[keep], np.asarray(weight, dtype=np.float64)[keep])


# networkx defaults: PageRank damping and power-iteration limits, HITS limits
PAGERANK_ALPHA = 0.85
PAGERANK_MAX_ITER = 100
PAGERANK_TOL = 1.0e-6
HITS_MAX_ITER = 100
HITS_TOL = 1.0e-8


def pagerank(graph: ArcGraph) -> np.ndarray:
    """Weighted PageRank with networkx-default semantics."""
    n = len(graph.nodes)
    if n == 0:
        return np.zeros(0)
    src, dst, w = graph.src, graph.dst, graph.weight
    # bincount is the fast scatter-add: np.add.at is unbuffered and ~10x
    # slower on the per-iteration hot path of these power iterations
    out_weight = np.bincount(src, weights=w, minlength=n)
    dangling = out_weight == 0.0
    # row-stochastic transition: weight / total out-weight of the source
    with np.errstate(divide="ignore", invalid="ignore"):
        p = np.where(out_weight[src] > 0, w / out_weight[src], 0.0)

    alpha = PAGERANK_ALPHA
    x = np.full(n, 1.0 / n)
    teleport = np.full(n, 1.0 / n)
    for _ in range(PAGERANK_MAX_ITER):
        xlast = x
        contrib = np.bincount(dst, weights=alpha * xlast[src] * p, minlength=n)
        danglesum = alpha * xlast[dangling].sum()
        x = contrib + (danglesum + (1.0 - alpha)) * teleport
        if np.abs(x - xlast).sum() < n * PAGERANK_TOL:
            break
    return x


def betweenness_centrality(graph: ArcGraph) -> np.ndarray:
    """Unweighted, normalized betweenness centrality (Brandes 2001) on the
    directed graph — exactly ``nx.betweenness_centrality(g)`` defaults.

    The single-source phase runs only from nodes with out-arcs: a node
    without one reaches nothing, so its pass adds exactly 0.  Sources run
    in node order, so the sums are the same as over every node.  The work
    is O(V·E), which the reference pays too (hundreds to a few thousand
    nodes per city).
    """
    n = len(graph.nodes)
    src_arr, dst_arr = graph.src, graph.dst

    # level-synchronous Brandes: per BFS level, process all frontier edges as
    # one vectorized mask over the edge arrays — O(E·diameter) numpy work per
    # source instead of per-edge Python.
    bc = np.zeros(n)
    for s in np.unique(src_arr):
        sigma = np.zeros(n)
        sigma[s] = 1.0
        dist = np.full(n, -1, dtype=np.int64)
        dist[s] = 0
        level = 0
        while True:
            on_level = dist[src_arr] == level
            if not on_level.any():
                break
            tgt = dst_arr[on_level]
            fresh = tgt[dist[tgt] < 0]
            dist[fresh] = level + 1
            step = on_level & (dist[dst_arr] == level + 1)
            np.add.at(sigma, dst_arr[step], sigma[src_arr[step]])
            level += 1
        # reverse accumulation over the same level structure
        delta = np.zeros(n)
        for lv in range(level - 1, -1, -1):
            step = (dist[src_arr] == lv) & (dist[dst_arr] == lv + 1)
            sv, dv = src_arr[step], dst_arr[step]
            np.add.at(delta, sv, sigma[sv] / sigma[dv] * (1.0 + delta[dv]))
        delta[s] = 0.0
        mask = dist >= 0
        mask[s] = False
        bc[mask] += delta[mask]
    if n > 2:
        bc *= 1.0 / ((n - 1) * (n - 2))
    else:
        bc[:] = 0.0
    return bc


def hits(graph: ArcGraph) -> tuple[np.ndarray, np.ndarray]:
    """HITS (hub, authority) scores (J5 — the reference reserves the
    columns but leaves ``nx.algorithms.hits(g)`` commented out,
    arango_queries.py:168; implemented here so the capability exists).

    Equal to networkx HITS on the graph WITHOUT its weights: adjacency
    entries are 1, per-iteration max-normalization, final
    sum-normalization, convergence on L1 hub error.  The reference's
    commented-out call would run on its ``g`` weighted by ``distance_m``,
    which gives different scores (up to 0.118 apart in hub score on the
    benchmark's seed-1 data); the unweighted form is kept, and the
    declarative twin ``city_hits_joins`` is unweighted too."""
    n = len(graph.nodes)
    if n == 0:
        return np.zeros(0), np.zeros(0)
    src, dst = graph.src, graph.dst
    h = np.full(n, 1.0 / n)
    for _ in range(HITS_MAX_ITER):
        hlast = h
        a = np.bincount(dst, weights=hlast[src], minlength=n)
        amax = a.max()
        if amax > 0:
            a /= amax
        h = np.bincount(src, weights=a[dst], minlength=n)
        hmax = h.max()
        if hmax > 0:
            h /= hmax
        if np.abs(h - hlast).sum() < HITS_TOL:
            break
    hsum, asum = h.sum(), a.sum()
    if hsum > 0:
        h /= hsum
    if asum > 0:
        a /= asum
    return h, a

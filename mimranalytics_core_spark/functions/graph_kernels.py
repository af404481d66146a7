"""In-process graph kernels behind the driver-side snapshot (no Spark here).

At the sizes ``graph_snapshot.MAX_EDGES`` admits, a Spark graph algorithm
is per-job overhead: each superstep exchange is its own job, so ten
pagerank supersteps cost ~87 jobs and seconds, where one pass over edge
arrays in the driver takes milliseconds (the reference's single-heap
NetworkX step, README.md:28). Two families:

- dict/list kernels for traversals from a few seeds: :func:`adjacency`,
  :func:`bfs` and :class:`SeekGraph` (``api.expand_neighborhood``, the
  bound-id seeks);
- whole-graph kernels on integer-indexed numpy arrays (:func:`index`:
  node ids sorted, so a smaller index is a smaller id, as Spark compares
  strings). Each is one algorithm shared by its callers and keeps the
  semantics of the Spark function it stands in for, including its bounds
  and its row set: :func:`pagerank`, :func:`label_propagation`,
  :func:`brandes`, :func:`cycle_members`, :func:`reach_closure`,
  :func:`walk_sum`.

Sums run in a different order than Spark's, so float results agree to a
few ulps and are compared after the callers' declared rounding
(``tests/test_graph_snapshot.py``). :func:`half_up` reproduces Spark's
``F.round`` where the binary value decides it and flags the rest.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

# dict/list kernels


def adjacency(src: list[str], dst: list[str]) -> dict[str, list[str]]:
    """Undirected adjacency of a directed edge list (parallel edges kept;
    the BFS visits each node once regardless)."""
    adj: dict[str, list[str]] = {}
    for s, d in zip(src, dst):
        adj.setdefault(s, []).append(d)
        adj.setdefault(d, []).append(s)
    return adj


def bfs(neighbours, seeds: list, hops: int):
    """Yield (node, min-hop distance ≤ ``hops`` from ``seeds``) in
    discovery order, so a caller can stop at a row budget mid-traversal.
    ``neighbours(node)`` gives the nodes one hop from ``node`` (None for
    none); an adjacency dict stands for its ``get``."""
    if isinstance(neighbours, dict):
        neighbours = neighbours.get
    dist = dict.fromkeys(seeds, 0)
    yield from dist.items()
    frontier = list(dist)
    for level in range(1, hops + 1):
        nxt = []
        for node in frontier:
            for m in neighbours(node) or ():
                if m not in dist:
                    dist[m] = level
                    nxt.append(m)
                    yield m, level
        if not nxt:
            break
        frontier = nxt


class SeekGraph:
    """A typed directed edge list indexed for bounded traversals from a few
    seeds: per node, the indices of its out- and in-edges. ``types`` below
    is a set of ``rel_type`` values or None (any type)."""

    def __init__(self, src: list, dst: list, rel: list, weight: list) -> None:
        self.src, self.dst, self.rel, self.weight = src, dst, rel, weight
        # path_rows' trail guard keys a relationship by its (src, dst) pair
        pairs: dict = {}
        self.key = [pairs.setdefault(p, len(pairs)) for p in zip(src, dst)]
        self.out: dict = {}
        self.inc: dict = {}
        for i, (s, d) in enumerate(zip(src, dst)):
            self.out.setdefault(s, []).append(i)
            self.inc.setdefault(d, []).append(i)

    def steps(self, node, types, direction: str):
        """(next node, edge index) for each edge leaving ``node`` in the
        ``direction`` view; ``both`` keeps each original edge as one step
        from either endpoint (a self-loop is two)."""
        if direction != "in":
            for i in self.out.get(node, ()):
                if types is None or self.rel[i] in types:
                    yield self.dst[i], i
        if direction != "out":
            for i in self.inc.get(node, ()):
                if types is None or self.rel[i] in types:
                    yield self.src[i], i

    def distances(self, seeds, types, direction, min_hops, max_hops, budget):
        """``multi_source_distances`` rows (source, node, dist) with
        ``min_hops <= dist <= max_hops``, from each seed that is a source of
        the directed view; None at the first row past ``budget``."""
        rows = []

        def neighbours(node):
            return (m for m, _ in self.steps(node, types, direction))

        for s in dict.fromkeys(seeds):
            if next(self.steps(s, types, direction), None) is None:
                continue
            for n, d in bfs(neighbours, [s], max_hops):
                if d >= min_hops:
                    rows.append((s, n, d))
                    if len(rows) > budget:
                        return None
        return rows

    def paths(self, seeds, types, direction, min_hops, max_hops, unique, budget):
        """``path_rows`` rows (src, dst, hops, Π weight, Σ weight), one per
        path of ``min_hops..max_hops`` edges from each seed; with ``unique``
        no (src, dst) relationship repeats along a path (trail). None once
        more than ``budget`` paths of any length are enumerated."""
        rows = []
        n = 0
        for s in dict.fromkeys(seeds):
            stack = [(s, 0, None, None, ())]
            while stack:
                node, hops, pw, pcost, used = stack.pop()
                for m, i in self.steps(node, types, direction):
                    k = self.key[i]
                    if unique and k in used:
                        continue
                    w = self.weight[i]
                    if not hops:
                        w_m = c_m = w
                    elif w is None or pw is None:  # Spark arithmetic: null in, null out
                        w_m = c_m = None
                    else:
                        w_m, c_m = pw * w, pcost + w
                    n += 1
                    if n > budget:
                        return None
                    if hops + 1 >= min_hops:
                        rows.append((s, m, hops + 1, w_m, c_m))
                    if hops + 1 < max_hops:
                        stack.append((m, hops + 1, w_m, c_m, used + (k,)))
        return rows


# array kernels: nodes are 0..n-1, edges are (src, dst) int64 arrays


def index(src: pa.ChunkedArray, dst: pa.ChunkedArray) -> tuple[pa.Array, np.ndarray, np.ndarray]:
    """(sorted distinct ids, src indices, dst indices) of an edge list
    without null ids; ids sort by UTF-8 bytes, Spark's string order."""
    both = pa.chunked_array(src.chunks + dst.chunks, src.type)
    nodes = pc.unique(both)
    nodes = nodes.take(pc.sort_indices(nodes))
    codes = pc.index_in(both, value_set=nodes).to_numpy().astype(np.int64)
    return nodes, codes[: len(src)], codes[len(src) :]


def _csr(n: int, src: np.ndarray, dst: np.ndarray, *cols: np.ndarray):
    """(indptr, dst, *cols) with the edges grouped by src."""
    order = np.argsort(src, kind="stable")
    indptr = np.zeros(n + 1, np.int64)
    np.cumsum(np.bincount(src, minlength=n), out=indptr[1:])
    return (indptr, dst[order], *(c[order] for c in cols))


def _expand(indptr: np.ndarray, nodes: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(position in ``nodes``, CSR slot) for every edge leaving ``nodes``."""
    starts = indptr[nodes]
    counts = indptr[nodes + 1] - starts
    pos = np.repeat(np.arange(len(nodes)), counts)
    first = np.repeat(np.cumsum(counts) - counts, counts)
    return pos, starts[pos] + np.arange(len(pos)) - first


def pagerank(
    n: int, src: np.ndarray, dst: np.ndarray, iters: int = 10, damping: float = 0.85
) -> np.ndarray:
    """``graph_algos.pagerank``: ``iters`` damped steps from 1/n, each
    parallel edge carrying 1/out-degree, dangling mass spread uniformly."""
    out_deg = np.bincount(src, minlength=n)
    share = 1.0 / out_deg[src]
    dangling = out_deg == 0
    rank = np.full(n, 1.0 / n)
    for _ in range(iters):
        inflow = np.bincount(dst, weights=rank[src] * share, minlength=n)
        dm = rank[dangling].sum()
        rank = (1 - damping) / n + damping * (inflow + dm / float(n))
    return rank


def label_propagation(n: int, src: np.ndarray, dst: np.ndarray, max_iter: int = 20) -> np.ndarray:
    """``graph_algos.connected_components``: per node the smallest index
    within ``max_iter`` undirected hops (synchronous min-label rounds,
    stopping early at the fixpoint)."""
    a, b = np.concatenate([src, dst]), np.concatenate([dst, src])
    label = np.arange(n)
    for _ in range(max_iter):
        new = label.copy()
        np.minimum.at(new, b, label[a])
        if np.array_equal(new, label):
            break
        label = new
    return label


def brandes(n: int, src: np.ndarray, dst: np.ndarray, sources: np.ndarray, max_depth: int = 8):
    """``graph_algos.betweenness`` on the undirected view of the edges:
    level-synchronous Brandes from each source, ``max_depth`` levels,
    parallel edges counted in σ and in the dependency terms. Returns
    (score, has_term): the Σ over sources of δ(s, v), and whether any
    source other than v gave v a backward-phase term (Spark's row set;
    when no source reaches a neighbour, Spark returns the sources)."""
    indptr, nbr = _csr(n, np.concatenate([src, dst]), np.concatenate([dst, src]))
    dist = np.full(n, -1)
    sigma = np.zeros(n)
    delta = np.zeros(n)
    score = np.zeros(n)
    has_term = np.zeros(n, bool)
    sources = np.unique(sources)
    reached = False
    for s in sources:
        dist[s], sigma[s] = 0, 1.0
        levels = [np.array([s])]
        for lev in range(1, max_depth + 1):
            pos, slot = _expand(indptr, levels[-1])
            w = nbr[slot]
            keep = dist[w] < 0
            if not keep.any():
                break
            new, inv = np.unique(w[keep], return_inverse=True)
            sigma[new] = np.bincount(inv, weights=sigma[levels[-1][pos[keep]]])
            dist[new] = lev
            levels.append(new)
        reached |= len(levels) > 1
        for lev in range(len(levels) - 1, 0, -1):
            pos, slot = _expand(indptr, levels[lev - 1])
            v, w = levels[lev - 1][pos], nbr[slot]
            keep = dist[w] == lev
            v, w = v[keep], w[keep]
            vs, inv = np.unique(v, return_inverse=True)
            delta[vs] = np.bincount(inv, weights=sigma[v] / sigma[w] * (1.0 + delta[w]))
            has_term[vs[vs != s]] = True
        delta[s] = 0.0
        seen = np.concatenate(levels)
        score[seen] += delta[seen]
        dist[seen], sigma[seen], delta[seen] = -1, 0.0, 0.0
    if not reached:  # no source has a neighbour: Spark scores the sources 0
        has_term[sources] = True
    return score, has_term


def cycle_members(n: int, src: np.ndarray, dst: np.ndarray, max_len: int) -> np.ndarray:
    """Nodes with a closed walk of 1..``max_len`` edges that returns to them
    only at its end: ``api.circular_ownership``'s walk, kept as a set of
    distinct (origin, node) pairs per depth."""
    indptr, nbr = _csr(n, src, dst)
    hit = np.zeros(n, bool)
    origin, node = src, dst
    for _ in range(max_len - 1):  # extend the walks not yet back, one edge a round
        back = origin == node
        hit[origin[back]] = True
        key = np.unique(origin[~back] * n + node[~back])
        origin, node = key // n, key % n
        pos, slot = _expand(indptr, node)
        origin, node = origin[pos], nbr[slot]
    hit[origin[origin == node]] = True
    return hit


def reach_closure(n: int, src: np.ndarray, dst: np.ndarray, max_hops: int) -> np.ndarray:
    """Sorted distinct keys ``a * n + b`` of the pairs joined by a walk of
    1..``max_hops`` edges (set semantics, one edge extension per round)."""
    indptr, nbr = _csr(n, src, dst)
    seen = frontier = np.unique(src * n + dst)
    for _ in range(max_hops - 1):
        pos, slot = _expand(indptr, frontier % n)
        new = np.setdiff1d(np.unique(frontier[pos] // n * n + nbr[slot]), seen, assume_unique=True)
        if not len(new):
            break
        seen, frontier = np.union1d(seen, new), new
    return seen


def walk_sum(
    n: int, src: np.ndarray, dst: np.ndarray, weight: np.ndarray, owners: np.ndarray, max_depth: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """``graph_algos.ubo_closure`` from ``owners``: (owner, entity, Σ over
    walks of 1..``max_depth`` edges of Π weight). NaN weights stand for
    nulls: a walk through one adds nothing, as in Spark's sum, so they are
    dropped; a pair reached only through them has no row."""
    ok = ~np.isnan(weight)
    indptr, nbr, wt = _csr(n, src[ok], dst[ok], weight[ok])
    owners = np.unique(owners)
    pos, slot = _expand(indptr, owners)
    keys, vals = [owners[pos] * n + nbr[slot]], [wt[slot]]
    for _ in range(max_depth - 1):
        key, inv = np.unique(keys[-1], return_inverse=True)
        val = np.bincount(inv, weights=vals[-1])
        pos, slot = _expand(indptr, key % n)
        if not len(pos):
            break
        keys.append(key[pos] // n * n + nbr[slot])
        vals.append(val[pos] * wt[slot])
    key, inv = np.unique(np.concatenate(keys), return_inverse=True)
    return key // n, key % n, np.bincount(inv, weights=np.concatenate(vals))


def half_up(x: np.ndarray, digits: int) -> tuple[np.ndarray, np.ndarray]:
    """(``x`` rounded half away from zero at ``digits`` decimals, unsure).
    Spark's ``F.round`` rounds the shortest decimal string of a double,
    which lies within an ulp of it, so the binary value decides every
    result except within a few ulps of a tie: those (and NaN, infinities
    and values past 2**52 / 10**digits) are flagged for Spark to round."""
    scale = 10.0**digits
    t = np.abs(x) * scale
    with np.errstate(invalid="ignore"):
        frac = t - np.floor(t)
        unsure = ~((np.abs(frac - 0.5) > 8 * np.spacing(t)) & (t < 2.0**52))
    return np.copysign(np.floor(t + 0.5), x) / scale + 0.0, unsure


def dround(x: np.ndarray) -> np.ndarray:
    """``floor(x * 1e6 + 0.5) / 1e6``: the registered graph ops' HALF_UP
    on the binary value, the same double arithmetic as their Spark form."""
    return np.floor(x * 1e6 + 0.5) / 1e6

"""Randomized equivalence tests: the distributed graph algorithms against
straightforward single-machine references (union-find, power iteration,
walk-product enumeration) on a seeded random graph — broader coverage than
the hand-built fixture."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from mimranalytics_core_spark.functions import graph_algos as ga
from mimranalytics_core_spark.functions.graph_algos import (
    bfs_distances,
    connected_components,
    ubo_closure,
    undirect,
)

random.seed(42)
N_NODES = 60
EDGE_LIST = []
for _ in range(90):
    a, b = random.sample(range(N_NODES), 2)
    EDGE_LIST.append((f"v{a}", f"v{b}", round(random.uniform(0.1, 1.0), 3)))
EDGE_LIST = sorted(set(EDGE_LIST))


@pytest.fixture(scope="module")
def redges(spark):
    return spark.createDataFrame(EDGE_LIST, "src STRING, dst STRING, weight DOUBLE")


def test_components_match_union_find(spark, redges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for s, d, _ in EDGE_LIST:
        union(s, d)
    expected = {}
    for s, d, _ in EDGE_LIST:
        expected[s] = find(s)
        expected[d] = find(d)
    # canonicalize: min node id per component
    roots = {}
    for node, r in expected.items():
        roots.setdefault(find(r), []).append(node)
    exp_label = {}
    for members in roots.values():
        m = min(members)
        for node in members:
            exp_label[node] = m

    got = {
        r.node: r.component
        for r in connected_components(redges, max_iter=30, state_partitions=4).collect()
    }
    assert got == exp_label


def test_bfs_matches_reference(spark, redges):
    from collections import deque

    adj = {}
    for s, d, _ in EDGE_LIST:
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    src = "v0"
    dist = {src: 0}
    q = deque([src])
    while q:
        v = q.popleft()
        for w in adj.get(v, ()):
            if w not in dist:
                dist[w] = dist[v] + 1
                q.append(w)

    seeds = spark.createDataFrame([(src,)], "node STRING")
    got = {r.node: r.dist for r in bfs_distances(undirect(redges), seeds, max_depth=30).collect()}
    assert got == dist


def test_ubo_matches_walk_enumeration(spark, redges):
    adj = {}
    for s, d, w in EDGE_LIST:
        adj.setdefault(s, []).append((d, w))
    max_depth = 3
    expected = {}

    def walk(origin, node, frac, depth):
        if depth > 0:
            expected[(origin, node)] = expected.get((origin, node), 0.0) + frac
        if depth == max_depth:
            return
        for nxt, w in adj.get(node, ()):
            walk(origin, nxt, frac * w, depth + 1)

    for v in {x for e in EDGE_LIST for x in e[:2]}:
        walk(v, v, 1.0, 0)
    expected = {k: v for k, v in expected.items() if k[0] != k[1] or v}

    got = {
        (r.owner, r.entity): r.effective_ownership
        for r in ubo_closure(redges, max_depth=max_depth).collect()
    }
    assert set(got) == set(expected)
    for k in expected:
        assert abs(got[k] - expected[k]) < 1e-9, (k, got[k], expected[k])


def test_fixed_round_components_equal_converged_on_bounded_diameter(spark, redges):
    """check_convergence=False with max_iter >= diameter must equal the
    converged run exactly (k rounds = min over k-hop reachability)."""
    conv = {
        (r.node, r.component)
        for r in connected_components(redges.select("src", "dst")).collect()
    }
    fixed = {
        (r.node, r.component)
        for r in connected_components(
            redges.select("src", "dst"), max_iter=20, check_convergence=False
        ).collect()
    }
    assert conv == fixed


def test_match_path_unweighted_matches_bfs_walks(spark, redges):
    """match_path-style bounded iterative expansion must agree with
    bfs_distances on reachable-node sets per hop bound (walks vs min-hop:
    a node is within k hops iff some walk of length <= k reaches it)."""
    seeds = spark.createDataFrame([("v0",), ("v1",)], "node STRING")
    bfs = {
        r.node
        for r in bfs_distances(redges.select("src", "dst"), seeds, max_depth=3).collect()
        if r.dist > 0
    }
    # iterative expansion identical in shape to api.match_path's loop
    frontier = redges.join(
        seeds, redges.src == seeds.node
    ).select(F.col("dst").alias("cur"))
    reached = frontier
    for _ in range(2):
        frontier = (
            frontier.join(redges, frontier.cur == redges.src)
            .select(F.col("dst").alias("cur"))
        )
        reached = reached.unionByName(frontier)
    walks = {r.cur for r in reached.distinct().collect()}
    # a cycle can walk BACK to a seed (hop>0) while BFS pins seeds at dist 0
    # — compare non-seed reachability, where the two definitions coincide
    seed_ids = {"v0", "v1"}
    assert walks - seed_ids == bfs - seed_ids


def test_kcore_matches_reference_peel(spark, redges):
    """Distributed k-core vs a straightforward in-memory peel on the seeded
    random graph, for several k."""
    from mimranalytics_core_spark.functions.graph_algos import kcore

    # symmetrized unique neighbor pairs
    sym = set()
    for s, d, _ in EDGE_LIST:
        sym.add((s, d))
        sym.add((d, s))

    def ref_core(k):
        alive = {a for a, _ in sym}
        while True:
            deg = {}
            for a, b in sym:
                if a in alive and b in alive:
                    deg[a] = deg.get(a, 0) + 1
            nxt = {n for n in alive if deg.get(n, 0) >= k}
            if nxt == alive:
                return {n: deg.get(n, 0) for n in alive}
            alive = nxt

    for k in (2, 3, 4):
        got = {r.node: r.core_deg for r in kcore(redges, k=k, max_iter=30).collect()}
        assert got == ref_core(k), f"k={k}"


def test_trail_closure_invariants_on_random_graph(spark, redges):
    """On the seeded random digraph: every trail is a walk (multiset
    containment per (src, dst, hops)), reachable-pair sets coincide, and
    per-pair min hops agree — the invariants behind using walk closure for
    segment joins and BFS for shortestPath()."""
    from collections import Counter

    from mimranalytics_core_spark.functions.graph_algos import path_rows

    walks = [(r.src, r.dst, r.hops) for r in path_rows(redges, 1, 4).collect()]
    trails = [
        (r.src, r.dst, r.hops)
        for r in path_rows(redges, 1, 4, unique_edges=True).collect()
    ]
    cw, ct = Counter(walks), Counter(trails)
    assert all(ct[k] <= cw[k] for k in ct)  # trails ⊆ walks with multiplicity
    assert {(s, d) for s, d, _ in walks} == {(s, d) for s, d, _ in trails}
    minw: dict = {}
    mint: dict = {}
    for s, d, h in walks:
        minw[(s, d)] = min(minw.get((s, d), 99), h)
    for s, d, h in trails:
        mint[(s, d)] = min(mint.get((s, d), 99), h)
    assert minw == mint  # a min-hop walk never repeats an edge


def test_star_contraction_components_match_union_find(spark):
    """The star-contraction + CC pipeline inside dedup_canonical_docs,
    exercised on seeded random pair graphs (including chain/clique mixes)
    against union-find. Guards the contraction's correctness argument
    (min-label preservation) beyond the fixture's clique-heavy shape."""
    from mimranalytics_core_spark.functions.graph_algos import connected_components

    rng = random.Random(7)
    for trial in range(3):
        n = 40
        edges = set()
        # mix: random edges + an explicit chain + an explicit clique
        for _ in range(25):
            a, b = rng.sample(range(n), 2)
            edges.add((min(a, b), max(a, b)))
        chain = list(range(30, 38))
        edges |= {(a, a + 1) for a in chain[:-1]}
        clique = [2, 5, 9, 13]
        edges |= {(min(a, b), max(a, b)) for a in clique for b in clique if a < b}

        # union-find reference
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            parent[find(a)] = find(b)
        touched = {v for e in edges for v in e}
        want = {v: min(u for u in touched if find(u) == find(v)) for v in touched}

        pairs = spark.createDataFrame(
            [(a, b) for a, b in sorted(edges)], "doc_a LONG, doc_b LONG"
        )
        # replicate the dedup_canonical_docs contraction inline
        e2 = pairs.select(
            F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
        ).unionByName(
            pairs.select(F.col("doc_b").alias("a"), F.col("doc_a").alias("b"))
        ).localCheckpoint(eager=True)
        l0 = e2.groupBy("a").agg(
            F.least(F.min("b"), F.first("a")).alias("lab")
        ).localCheckpoint(eager=True)
        la = l0.select(F.col("a").alias("a"), F.col("lab").alias("la"))
        lb = l0.select(F.col("a").alias("b"), F.col("lab").alias("lb"))
        contracted = (
            e2.join(la, "a").join(lb, "b")
            .filter(F.col("la") != F.col("lb"))
            .select(F.col("la").alias("src"), F.col("lb").alias("dst"))
            .distinct()
        )
        comp = connected_components(contracted, max_iter=12, state_partitions=4)
        final = (
            l0.join(comp, l0.lab == comp.node, "left")
            .select(
                F.col("a").alias("node"),
                F.coalesce(F.col("component"), F.col("lab")).alias("canonical"),
            )
        )
        got = {r.node: r.canonical for r in final.collect()}
        assert got == want, f"trial {trial}"


def test_boruvka_msf_matches_kruskal(spark):
    from mimranalytics_core_spark.functions.graph_algos import boruvka_msf

    # Disconnected graph (two islands + an isolated pair), parallel edges,
    # and deliberate weight TIES — the (w, a, b) total order must make the
    # forest unique and identical to sequential Kruskal under that order.
    rng = random.Random(777)
    raw = []
    for lo, hi in [(0, 25), (30, 50), (60, 62)]:
        ids = list(range(lo, hi))
        for _ in range(3 * len(ids)):
            a, b = rng.sample(ids, 2)
            raw.append((min(a, b), max(a, b), float(rng.randint(1, 9))))
    # parallel duplicates with a different weight (min-reduce coverage)
    raw += [(a, b, w + 5.0) for a, b, w in raw[::7]]
    df = spark.createDataFrame(raw, "a INT, b INT, w DOUBLE")

    red = {}
    for a, b, w in raw:
        red[(a, b)] = min(red.get((a, b), float("inf")), w)
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    expected = []
    for w, a, b in sorted((w, a, b) for (a, b), w in red.items()):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
            expected.append((a, b, w))

    got = sorted(tuple(r) for r in boruvka_msf(df).collect())
    assert got == sorted(expected)
    # forest invariant: |V| - #components edges
    n_nodes = len({x for (a, b) in red for x in (a, b)})
    comps = len({find(x) for (a, b) in red for x in (a, b)})
    assert len(got) == n_nodes - comps


def test_greedy_mis_matches_sequential_and_invariants(spark):
    from mimranalytics_core_spark.functions.graph_algos import greedy_mis

    rng = random.Random(123)
    raw = set()
    for _ in range(150):
        a, b = rng.sample(range(80), 2)
        raw.add((f"v{a:02d}", f"v{b:02d}"))
    df = spark.createDataFrame(sorted(raw), "src STRING, dst STRING")

    adj: dict[str, set] = {}
    for s, d in raw:
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    # lexicographically-first MIS: sequential greedy by ascending id
    exp = []
    dominated: set = set()
    for v in sorted(adj):
        if v not in dominated:
            exp.append(v)
            dominated |= adj[v] | {v}

    got = sorted(r.node for r in greedy_mis(df, rounds=12).collect())
    assert got == exp
    got_set = set(got)
    # independence: no edge inside the set
    assert not any(s in got_set and d in got_set for s, d in raw)
    # maximality: every non-member has a member neighbor
    for v in adj:
        if v not in got_set:
            assert adj[v] & got_set, v


def test_greedy_matching_matches_sequential_and_invariants(spark):
    from mimranalytics_core_spark.functions.graph_algos import greedy_matching

    rng = random.Random(321)
    raw = set()
    for _ in range(140):
        a, b = rng.sample(range(70), 2)
        raw.add((f"v{min(a,b):02d}", f"v{max(a,b):02d}"))
    df = spark.createDataFrame(sorted(raw), "src STRING, dst STRING")

    # lexicographically-first maximal matching: sequential greedy
    exp = []
    used: set = set()
    for a, b in sorted(raw):
        if a not in used and b not in used:
            exp.append((a, b))
            used |= {a, b}

    got = sorted((r.a, r.b) for r in greedy_matching(df, rounds=12).collect())
    assert got == sorted(exp)
    # matching invariant: endpoints pairwise distinct
    ends = [x for e in got for x in e]
    assert len(ends) == len(set(ends))
    # maximality: every unmatched edge touches a matched endpoint
    mset = set(ends)
    for a, b in raw:
        if (a, b) not in set(got):
            assert a in mset or b in mset


def test_greedy_coloring_matches_sequential(spark):
    from mimranalytics_core_spark.functions.graph_algos import greedy_coloring

    rng = random.Random(555)
    raw = set()
    for _ in range(160):
        a, b = rng.sample(range(60), 2)
        raw.add((f"v{min(a,b):02d}", f"v{max(a,b):02d}"))
    df = spark.createDataFrame(sorted(raw), "src STRING, dst STRING")

    adj: dict[str, set] = {}
    for s, d in raw:
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    # sequential greedy coloring by ascending id (mex of colored neighbors)
    exp: dict[str, int] = {}
    for v in sorted(adj):
        used = {exp[u] for u in adj[v] if u in exp}
        c = 0
        while c in used:
            c += 1
        exp[v] = c

    got = {r.node: r.color for r in greedy_coloring(df, rounds=40).collect()}
    assert got == exp
    # proper coloring invariant
    for s, d in raw:
        assert got[s] != got[d]


# --- the BFS traversal family against one plain-Python BFS ----------------

_BFS_RNG = random.Random(2027)
BFS_EDGES = [("v0", "v1"), ("v1", "v2"), ("v2", "v0")]  # a 3-cycle
for _ in range(34):
    a, b = _BFS_RNG.sample(range(14), 2)
    BFS_EDGES.append((f"v{a}", f"v{b}"))
BFS_EDGES += BFS_EDGES[3:6]  # three parallel edges
BFS_EDGES += [("v5", "v5"), ("v2", "z"), ("v9", "z")]  # a self-loop; z is in-only
# x404 is absent from the graph; z reaches nothing
BFS_SEEDS = ["v0", "v3", "v11", "z", "x404"]


def _bfs_reference(edges, s, max_depth):
    """Per-node dist, σ and the list of shortest paths (node lists) from
    ``s``, counting each parallel edge as its own path; plus the per-level
    node lists."""
    adj: dict[str, list[str]] = {}
    for a, b in edges:
        adj.setdefault(a, []).append(b)
    dist, sigma, paths, levels = {s: 0}, {s: 1}, {s: [[s]]}, [[s]]
    for d in range(1, max_depth + 1):
        new = []
        for v in levels[-1]:
            for w in adj.get(v, ()):
                if w not in dist:
                    dist[w], sigma[w], paths[w] = d, 0, []
                    new.append(w)
                if dist[w] == d:
                    sigma[w] += sigma[v]
                    paths[w] += [p + [w] for p in paths[v]]
        if not new:
            break
        levels.append(new)
    return dist, sigma, paths, levels


def _brandes_reference(edges, sources, max_depth):
    """Node and edge betweenness exactly as ``betweenness`` defines its
    rows: per source, the backward dependency sum over DAG edges (each
    parallel edge its own term); nodes other than the source that have a
    DAG child; edges keyed by (least, greatest) endpoint."""
    node: dict[str, float] = {}
    edge: dict[tuple[str, str], float] = {}
    reached = False
    for s in sources:
        dist, sigma, _, levels = _bfs_reference(edges, s, max_depth)
        reached = reached or len(levels) > 1
        delta: dict[str, float] = {}
        for lev in range(len(levels) - 1, 0, -1):
            for v, w in edges:
                if dist.get(v) == lev - 1 and dist.get(w) == lev:
                    c = sigma[v] / sigma[w] * (1.0 + delta.get(w, 0.0))
                    delta[v] = delta.get(v, 0.0) + c
                    key = (min(v, w), max(v, w))
                    edge[key] = edge.get(key, 0.0) + c
        for v, x in delta.items():
            if v != s:
                node[v] = node.get(v, 0.0) + x
    if not reached:
        return dict.fromkeys(sources, 0.0), {(min(a, b), max(a, b)): 0.0 for a, b in edges}
    return node, edge


def _half_up6(x):
    import math

    return math.floor(x * 1e6 + 0.5) / 1e6


def _assert_close(got: dict, want: dict, what):
    assert sorted(got) == sorted(want), what
    for k, x in want.items():
        assert abs(got[k] - _half_up6(x)) <= 1.0001e-6, (what, k, got[k], x)


@pytest.mark.parametrize(
    "seeds,max_depth",
    [
        (BFS_SEEDS, 0),
        (BFS_SEEDS, 2),
        (BFS_SEEDS, 99),
        (["v0", "v0", "v3", "x404", "x404"], 99),
    ],
    ids=["depth0", "depth2", "past-diameter", "duplicate-seeds"],
)
def test_bfs_family_matches_reference(spark, seeds, max_depth):
    from mimranalytics_core_spark.functions.graph_algos import (
        betweenness,
        closeness,
        multi_source_distances,
        multi_source_k_shortest_paths,
        multi_source_shortest_paths,
        multi_source_sigma,
    )

    k = 2
    edges = spark.createDataFrame(BFS_EDGES, "src STRING, dst STRING")
    src_df = spark.createDataFrame([(s,) for s in seeds], "node STRING")
    sources = list(dict.fromkeys(seeds))
    ref = {s: _bfs_reference(BFS_EDGES, s, max_depth) for s in sources}

    want_rows = sorted(
        (s, v, d, ref[s][1][v], min(ref[s][2][v]), sorted("|".join(p) for p in ref[s][2][v])[:k])
        for s in sources
        for v, d in ref[s][0].items()
    )
    sig = multi_source_sigma(edges, src_df, max_depth=max_depth)
    assert sorted(tuple(r) for r in sig.collect()) == [w[:4] for w in want_rows]
    sp = multi_source_shortest_paths(edges, src_df, max_depth=max_depth)
    assert sorted((r.source, r.node, r.dist, r.path) for r in sp.collect()) == [
        (s, v, d, p) for s, v, d, _, p, _ in want_rows
    ]
    ksp = multi_source_k_shortest_paths(edges, src_df, max_depth=max_depth, k=k)
    assert sorted(tuple(r) for r in ksp.collect()) == [
        (s, v, d, n, ps) for s, v, d, n, _, ps in want_rows
    ]
    dist = multi_source_distances(edges, src_df, max_depth=max_depth)
    assert sorted(tuple(r) for r in dist.collect()) == [w[:3] for w in want_rows]

    # one BFS from the whole seed set
    whole: dict[str, int] = {}
    for s in sources:
        for v, d in ref[s][0].items():
            whole[v] = min(d, whole.get(v, d))
    bfs = bfs_distances(edges, src_df, max_depth=max_depth).collect()
    assert sorted(tuple(r) for r in bfs) == sorted(whole.items())

    want_close = {}
    for s in sources:
        far = [d for v, d in ref[s][0].items() if v != s]
        if far:
            want_close[s] = len(far) / sum(far)
    got_close = closeness(edges, src_df, max_depth=max_depth).collect()
    assert len(got_close) == len(want_close)
    _assert_close({r.node: r.closeness for r in got_close}, want_close, "closeness")

    und = [(a, b) for e in BFS_EDGES for a, b in (e, e[::-1])]
    want_node, want_edge = _brandes_reference(und, sources, max_depth)
    got_node = betweenness(undirect(edges), src_df, max_depth=max_depth).collect()
    assert len(got_node) == len(want_node)
    _assert_close({r.node: r.betweenness for r in got_node}, want_node, "node betweenness")
    got_edge = betweenness(
        undirect(edges), src_df, max_depth=max_depth, state_partitions=2, edge_scores=True
    ).collect()
    assert len(got_edge) == len(want_edge)
    _assert_close(
        {(r.src, r.dst): r.edge_betweenness for r in got_edge}, want_edge, "edge betweenness"
    )


# --- the power-iteration family against plain-Python power iteration ------

# w0's only edge carries no mass, so under the weighted variant it dangles
WEIGHTED_EDGES = EDGE_LIST + [("w0", "v1", 0.0)]
# v12 has no out-edge (a dangling seed); v0 is repeated
PR_SEEDS = ["v12", "v0", "v0"]


def _pagerank_reference(edges, seeds=None, iters=10, d=0.85):
    """Each source splits its rank in proportion to its positive edge
    weights (a source with none dangles); the teleport and the dangling
    mass are uniform, or spread over ``seeds``."""
    nodes = sorted({x for e in edges for x in e[:2]})
    n = len(nodes)
    out: dict[str, list] = {}
    for s, t, w in edges:
        if w > 0:
            out.setdefault(s, []).append((t, w))
    if seeds is None:
        rank = dict.fromkeys(nodes, 1.0 / n)
    else:
        tele = {v: 1.0 / len(set(seeds)) if v in seeds else 0.0 for v in nodes}
        rank = dict(tele)
    for _ in range(iters):
        inflow = dict.fromkeys(nodes, 0.0)
        for s, ts in out.items():
            tot = sum(w for _, w in ts)
            for t, w in ts:
                inflow[t] += rank[s] * w / tot
        dm = sum(rank[v] for v in nodes if v not in out)
        if seeds is None:
            rank = {v: (1 - d) / n + d * (inflow[v] + dm / n) for v in nodes}
        else:
            rank = {v: (1 - d) * tele[v] + d * (inflow[v] + dm * tele[v]) for v in nodes}
    return rank


def _hits_reference(edges, iters=10):
    pairs = sorted({(s, t) for s, t, _ in edges})
    nodes = sorted({x for p in pairs for x in p})
    hub = dict.fromkeys(nodes, 1.0)
    for _ in range(iters):
        auth = dict.fromkeys(nodes, 0.0)
        for s, t in pairs:
            auth[t] += hub[s]
        auth = {v: x / sum(auth.values()) for v, x in auth.items()}
        hub = dict.fromkeys(nodes, 0.0)
        for s, t in pairs:
            hub[s] += auth[t]
        hub = {v: x / sum(hub.values()) for v, x in hub.items()}
    return {v: (hub[v], auth[v]) for v in nodes}


def _eigenvector_reference(edges, iters=12):
    """L2-normalised power method on the symmetrized graph."""
    import math

    adj: dict[str, set] = {}
    for s, t, _ in edges:
        adj.setdefault(s, set()).add(t)
        adj.setdefault(t, set()).add(s)
    x = dict.fromkeys(adj, 1.0)
    for _ in range(iters):
        raw = {v: sum(x[u] for u in adj[v]) for v in adj}
        nrm = math.sqrt(sum(r * r for r in raw.values()))
        x = {v: raw[v] / nrm if nrm > 0 else 0.0 for v in adj}
    return x


def _katz_reference(edges, iters=4, alpha=0.1):
    nodes = {x for e in edges for x in e[:2]}
    x = dict.fromkeys(nodes, 1.0)
    for _ in range(iters):
        inflow = dict.fromkeys(nodes, 0.0)
        for s, t, _ in edges:
            inflow[t] += x[s]
        x = {v: 1.0 + alpha * inflow[v] for v in nodes}
    return x


# case: (edges, call(edges, seeds), reference(edges))
POWER_CASES = {
    "pagerank": (
        EDGE_LIST,
        lambda e, s: ga.pagerank(e.select("src", "dst"), iters=10, state_partitions=4),
        lambda edges: _pagerank_reference([(a, b, 1.0) for a, b, _ in edges]),
    ),
    "pagerank-weighted": (
        WEIGHTED_EDGES,
        lambda e, s: ga.pagerank(e, iters=10, state_partitions=4, weight_col="weight"),
        _pagerank_reference,
    ),
    "pagerank-seeded": (
        EDGE_LIST,
        lambda e, s: ga.pagerank(e.select("src", "dst"), iters=10, state_partitions=4, seeds=s),
        lambda edges: _pagerank_reference([(a, b, 1.0) for a, b, _ in edges], PR_SEEDS),
    ),
    "hits": (
        EDGE_LIST,
        lambda e, s: ga.hits(e.select("src", "dst"), iters=10, state_partitions=4),
        _hits_reference,
    ),
    "eigenvector": (
        EDGE_LIST,
        lambda e, s: ga.eigenvector(e.select("src", "dst"), iters=12, state_partitions=4),
        _eigenvector_reference,
    ),
    "katz": (
        EDGE_LIST,
        lambda e, s: ga.katz(e.select("src", "dst"), iters=4, alpha=0.1),
        _katz_reference,
    ),
}


def _by_node(df) -> dict:
    return {r[0]: tuple(r[1:]) for r in df.collect()}


@pytest.mark.parametrize("case", list(POWER_CASES))
def test_power_family_matches_power_iteration(spark, case):
    edges, call, reference = POWER_CASES[case]
    schema = "src STRING, dst STRING, weight DOUBLE"
    seeds = spark.createDataFrame([(s,) for s in PR_SEEDS], "node STRING")
    got = _by_node(call(spark.createDataFrame(edges, schema), seeds))
    want = {v: x if isinstance(x, tuple) else (x,) for v, x in reference(edges).items()}
    assert sorted(got) == sorted(want)
    for v, x in want.items():
        assert all(abs(g - w) < 1e-9 for g, w in zip(got[v], x)), (v, got[v], x)
    assert call(spark.createDataFrame([], schema), seeds).count() == 0
    if case == "pagerank-seeded":  # no seeds: every node ranks 0.0
        none = spark.createDataFrame([], "node STRING")
        got = _by_node(call(spark.createDataFrame(edges, schema), none))
        assert got == dict.fromkeys(want, (0.0,))

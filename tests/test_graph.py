"""Graph-algorithm unit tests on the hand-built 6-node ownership fixture
(FIXTURES.md §unit-test fixture): a diamond A→{B,C}→D (checks sum-of-path
products) and a 3-cycle D→E→F→D (checks cycle detection + depth bounding).
Expected values computed by hand.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mimranalytics_core_spark.functions.graph_algos import (
    bfs_distances,
    connected_components,
    pagerank,
    ubo_closure,
    weighted_sssp,
)

EDGES = [
    # diamond: A owns D 0.6*0.5 + 0.4*0.5 = 0.5
    ("A", "B", 0.6),
    ("A", "C", 0.4),
    ("B", "D", 0.5),
    ("C", "D", 0.5),
    # 3-cycle
    ("D", "E", 1.0),
    ("E", "F", 1.0),
    ("F", "D", 0.5),
]


@pytest.fixture(scope="module")
def edges(spark):
    return spark.createDataFrame(EDGES, "src STRING, dst STRING, weight DOUBLE")


def _map(df, k, v):
    return {r[k]: r[v] for r in df.collect()}


def test_ubo_diamond_sum_of_path_products(spark, edges):
    ubo = ubo_closure(edges, max_depth=4)
    a = {r.entity: r.effective_ownership for r in ubo.filter(F.col("owner") == "A").collect()}
    assert a["B"] == pytest.approx(0.6)
    assert a["C"] == pytest.approx(0.4)
    assert a["D"] == pytest.approx(0.5)  # both diamond paths summed
    assert a["E"] == pytest.approx(0.5)
    assert a["F"] == pytest.approx(0.5)


def test_ubo_cycle_is_depth_bounded(spark, edges):
    # walks from B within depth 4: B→D (.5), B→D→E→F→D adds .5*1*1*.5 = .25
    ubo = ubo_closure(edges, max_depth=4)
    b = {r.entity: r.effective_ownership for r in ubo.filter(F.col("owner") == "B").collect()}
    assert b["D"] == pytest.approx(0.75)
    # deeper bound accumulates one more cycle pass: +0.125 at depth 7
    ubo7 = ubo_closure(edges, max_depth=7)
    b7 = {r.entity: r.effective_ownership for r in ubo7.filter(F.col("owner") == "B").collect()}
    assert b7["D"] == pytest.approx(0.875)


def test_bfs_min_hop(spark, edges):
    seeds = spark.createDataFrame([("A",)], "node STRING")
    und = edges.select("src", "dst").unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    d = _map(bfs_distances(und, seeds, max_depth=6), "node", "dist")
    assert d == {"A": 0, "B": 1, "C": 1, "D": 2, "E": 3, "F": 3}


def test_weighted_sssp(spark, edges):
    c = _map(weighted_sssp(edges, "A"), "node", "cost")
    assert c["D"] == pytest.approx(0.9)  # A→C→D = 0.4+0.5 beats A→B→D = 1.1
    assert c["E"] == pytest.approx(1.9)
    assert c["F"] == pytest.approx(2.9)


def test_connected_components_two_islands(spark, edges):
    extra = spark.createDataFrame([("G", "H", 1.0)], "src STRING, dst STRING, weight DOUBLE")
    comp = _map(connected_components(edges.unionByName(extra)), "node", "component")
    assert {comp[n] for n in "ABCDEF"} == {"A"}
    assert comp["G"] == comp["H"] == "G"


def test_pagerank_mass_and_ordering(spark, edges):
    pr = _map(pagerank(edges, iters=20), "node", "rank")
    assert sum(pr.values()) == pytest.approx(1.0, abs=1e-6)
    # cycle members accumulate rank; A (no in-edges) is the minimum
    assert pr["D"] > pr["A"]
    assert min(pr, key=pr.get) == "A"


def test_pagerank_personalized_matches_power_iteration(spark, edges):
    """PPR on the 6-node fixture vs an independent dense power iteration
    (same recurrence computed with plain Python floats)."""
    seeds = spark.createDataFrame([("A",), ("B",)], "node STRING")
    got = _map(pagerank(edges, iters=10, seeds=seeds), "node", "rank")

    nodes = sorted({s for s, _, _ in EDGES} | {d for _, d, _ in EDGES})
    out = {}
    for s, d_, _ in EDGES:
        out.setdefault(s, []).append(d_)
    tele = {n: (0.5 if n in ("A", "B") else 0.0) for n in nodes}
    rank = dict(tele)
    damp = 0.85
    for _ in range(10):
        inflow = {n: 0.0 for n in nodes}
        for s in out:
            for d_ in out[s]:
                inflow[d_] += rank[s] / len(out[s])
        dm = sum(rank[n] for n in nodes if n not in out)
        rank = {
            n: (1 - damp) * tele[n] + damp * (inflow[n] + dm * tele[n]) for n in nodes
        }
    for n in nodes:
        assert got[n] == pytest.approx(rank[n], abs=1e-9), n
    # total mass is conserved
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-6)
    # teleport locality: seed B beats its non-seed sibling C (identical
    # inflow from A, but only B receives teleport mass)
    assert got["B"] > got["C"]


def test_cycle_detection_operator_semantics(spark):
    """The recursive-CTE cycle query marks exactly the cycle nodes."""
    spark.createDataFrame(EDGES, "src STRING, dst STRING, weight DOUBLE").createOrReplaceTempView(
        "fixture_edges"
    )
    res = spark.sql(
        """
        WITH RECURSIVE walk(origin, node, depth) AS (
            SELECT src AS origin, dst AS node, 1 AS depth FROM fixture_edges
            UNION ALL
            SELECT w.origin, e.dst, w.depth + 1
            FROM walk w JOIN fixture_edges e ON e.src = w.node
            WHERE w.depth < 4 AND w.node <> w.origin
        )
        SELECT DISTINCT origin AS node_on_cycle FROM walk WHERE node = origin
        """
    )
    assert {r.node_on_cycle for r in res.collect()} == {"D", "E", "F"}


def _brandes_py(adj, sources):
    """Reference Brandes (BFS) implementation for the test oracle."""
    from collections import deque

    bc = {v: 0.0 for v in adj}
    for s in sources:
        dist = {s: 0}
        sigma = {v: 0.0 for v in adj}
        sigma[s] = 1.0
        order = []
        preds = {v: [] for v in adj}
        q = deque([s])
        while q:
            v = q.popleft()
            order.append(v)
            for w in adj[v]:
                if w not in dist:
                    dist[w] = dist[v] + 1
                    q.append(w)
                if dist.get(w) == dist[v] + 1:
                    sigma[w] += sigma[v]
                    preds[w].append(v)
        delta = {v: 0.0 for v in adj}
        for w in reversed(order):
            for v in preds[w]:
                delta[v] += sigma[v] / sigma[w] * (1 + delta[w])
            if w != s:
                bc[w] += delta[w]
    return bc


def test_betweenness_matches_reference(spark, edges):
    from mimranalytics_core_spark.functions.graph_algos import betweenness, undirect

    und = undirect(edges)
    adj = {}
    for r in und.collect():
        adj.setdefault(r.src, set()).add(r.dst)
        adj.setdefault(r.dst, set()).add(r.src)
    sources = sorted(adj)
    src_df = spark.createDataFrame([(s,) for s in sources], "node STRING")
    got = {r.node: r.betweenness for r in betweenness(und, src_df).collect()}
    expected = _brandes_py({k: sorted(v) for k, v in adj.items()}, sources)
    for v in adj:
        assert abs(got.get(v, 0.0) - round(expected[v], 6)) < 1e-6, (
            v, got.get(v), expected[v])


def test_closeness_matches_python_bfs(spark, edges):
    """Closeness from every node must equal a plain Python BFS recomputation
    (|reached| / sum of distances, floor-rounded to 6)."""
    from collections import deque

    from mimranalytics_core_spark.functions.graph_algos import closeness, undirect

    und = undirect(edges)
    adj = {}
    for r in und.collect():
        adj.setdefault(r.src, set()).add(r.dst)
        adj.setdefault(r.dst, set()).add(r.src)
    sources = sorted(adj)
    src_df = spark.createDataFrame([(s,) for s in sources], "node STRING")
    got = {r.node: r.closeness for r in closeness(und, src_df, max_depth=8).collect()}
    import math

    for s in sources:
        dist = {s: 0}
        dq = deque([s])
        while dq:
            u = dq.popleft()
            for v in adj[u]:
                if v not in dist:
                    dist[v] = dist[u] + 1
                    dq.append(v)
        reached = [d for n, d in dist.items() if n != s]
        want = math.floor(len(reached) / sum(reached) * 1e6 + 0.5) / 1e6
        assert got[s] == pytest.approx(want, abs=1e-9), (s, got[s], want)


def test_ubo_asof_time_slider_semantics(spark):
    """The as-of date genuinely changes the snapshot: before any order
    activity the ownership graph is empty; mid-history it is populated, and
    tier-1 shares renormalize to 1 per owner within the snapshot."""
    from mimranalytics_core_spark.operators._base import tables
    from mimranalytics_core_spark.operators.graph import _UBO_ASOF_SQL
    from tests.conftest import SF_SMALL

    tables(spark, SF_SMALL)
    early = spark.sql(_UBO_ASOF_SQL.format(t="1990-01-01 00:00:00"))
    assert early.count() == 0
    mid = spark.sql(_UBO_ASOF_SQL.format(t="1997-06-01 00:00:00"))
    assert mid.count() > 0
    # every reachable region's effective ownership equals the owner's total
    # valid tier-1 mass (=1 after renormalization, times 1.0-weight tiers)
    regions = mid.filter(F.col("entity").startswith("r:"))
    bad = regions.groupBy("owner").agg(F.sum("effective_ownership").alias("s")).filter(
        (F.col("s") < 0.98) | (F.col("s") > 1.02)
    )
    assert bad.count() == 0, bad.limit(5).collect()

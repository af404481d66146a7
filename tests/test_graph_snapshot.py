"""Differential tests for the driver-side graph snapshot
(functions/graph_snapshot.py): its BFS and closure kernels against the
Spark algorithms on seeded random edge lists, and the gated API against the
Spark path on the small fixture with the gate forced both ways."""

from __future__ import annotations

import os
import random
import subprocess
import sys
import threading

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from mimranalytics_core_spark import api, catalog
from mimranalytics_core_spark.catalog import decode_id_sql
from mimranalytics_core_spark.functions import graph_algos
from mimranalytics_core_spark.functions import graph_kernels as gk
from mimranalytics_core_spark.functions import graph_snapshot as gs
from mimranalytics_core_spark.functions.graph_algos import (
    bfs_distances,
    multi_source_distances,
    path_rows,
    ubo_closure,
    undirect,
)
from mimranalytics_core_spark.operators import graph as graph_ops
from mimranalytics_core_spark.registry import all_ops
from tests.conftest import SF_SMALL

TIERS = {"c": 40, "s": 10, "n": 6, "r": 2}


def _random_edges(seed: int) -> list[tuple[str, str, float]]:
    """A hierarchy-shaped random graph (c/s → n → r) plus a few random
    extra edges, so it has cycles, parallel paths and isolated pockets."""
    rng = random.Random(seed)
    pairs = {(f"c:{i}", f"n:{rng.randrange(TIERS['n'])}") for i in range(TIERS["c"])}
    pairs |= {(f"s:{i}", f"n:{rng.randrange(TIERS['n'])}") for i in range(TIERS["s"])}
    pairs |= {(f"n:{i}", f"r:{rng.randrange(TIERS['r'])}") for i in range(TIERS["n"])}
    nodes = sorted({x for p in pairs for x in p})
    while len(pairs) < 70:
        a, b = rng.sample(nodes, 2)
        pairs.add((a, b))
    return [(s, d, round(rng.uniform(0.05, 0.9), 3)) for s, d in sorted(pairs)]


def _walks(edges, max_depth: int = 6) -> dict[tuple[str, str], int]:
    """Number of directed walks of 1..max_depth edges per (owner, entity)."""
    out: dict[str, list[str]] = {}
    for s, d, _ in edges:
        out.setdefault(s, []).append(d)
    counts: dict[tuple[str, str], int] = {}
    for owner in out:
        frontier = {owner: 1}
        for _ in range(max_depth):
            nxt: dict[str, int] = {}
            for node, k in frontier.items():
                for m in out.get(node, ()):
                    nxt[m] = nxt.get(m, 0) + k
            for m, k in nxt.items():
                counts[(owner, m)] = counts.get((owner, m), 0) + k
            frontier = nxt
    return counts


@pytest.mark.parametrize("seed", [3, 17])
def test_bfs_kernel_matches_spark_bfs(spark, seed):
    edges = _random_edges(seed)
    df = spark.createDataFrame(edges, "src STRING, dst STRING, weight DOUBLE")
    adj = gs.adjacency([s for s, _, _ in edges], [d for _, d, _ in edges])
    # duplicate and unknown seeds, one seed from every tier
    seeds = ["c:7", "c:7", "s:2", "n:4", "r:1", "x:404"]
    seed_df = spark.createDataFrame([(s,) for s in seeds], "node STRING")
    for hops in range(5):
        want = {r.node: r.dist for r in bfs_distances(undirect(df), seed_df, max_depth=hops).collect()}
        got = dict(gs.bfs(adj, seeds, hops))
        assert got == want, (seed, hops)
        assert got["x:404"] == 0


@pytest.mark.parametrize("seed", [5, 29])
def test_closure_kernel_matches_spark_ubo_closure(spark, seed):
    edges = _random_edges(seed)
    df = spark.createDataFrame(edges, "src STRING, dst STRING, weight DOUBLE")
    tbl = gs.closure_table(ubo_closure(df, max_depth=6, threshold=0.0))
    # a threshold equal to a closure value: a pair reached by exactly one
    # walk, whose value is one product and so the same double in every run
    single = sorted(k for k, n in _walks(edges).items() if n == 1)
    raw = dict(zip(zip(tbl["owner"].to_pylist(), tbl["entity"].to_pylist()), tbl[gs._RAW].to_pylist()))
    at_value = raw[single[len(single) // 2]]
    above = max(raw.values()) + 1.0
    for threshold in (0.0, at_value, above):
        want = (
            ubo_closure(df, max_depth=6, threshold=threshold)
            .select("owner", "entity", F.round("effective_ownership", 6).alias("effective_ownership"))
            .orderBy(F.col("effective_ownership").desc(), "owner", "entity")
            .collect()
        )
        got = gs.at_threshold(tbl, threshold)
        assert [tuple(r) for r in want] == list(zip(*(got[c].to_pylist() for c in got.column_names)))
    assert 0 < len(gs.at_threshold(tbl, at_value)) < len(tbl)
    assert len(gs.at_threshold(tbl, above)) == 0


def _both_ways(monkeypatch, fn):
    """(Spark-path result, snapshot result) of ``fn()``."""
    monkeypatch.setattr(gs, "MAX_EDGES", -1)
    reference = fn()
    monkeypatch.setattr(gs, "MAX_EDGES", 10**9)
    return reference, fn()


@pytest.mark.parametrize(
    "entities,hops",
    [(["c:1"], 2), (["c:1", "c:1", "zz:9"], 3), (["s:3", "n:2", "r:1"], 4), (["n:0"], 0)],
)
def test_expand_api_gate_both_ways(spark, monkeypatch, entities, hops):
    ref, snap = _both_ways(
        monkeypatch, lambda: api.expand_neighborhood(spark, SF_SMALL, entities, hops)
    )
    assert snap.schema == ref.schema
    assert sorted(snap.collect()) == sorted(ref.collect())
    # the snapshot's own order: by hop, then node
    rows = [(r.hop, r.node) for r in snap.collect()]
    assert rows == sorted(rows)


def test_ubo_api_gate_both_ways(spark, monkeypatch):
    raw = sorted(r.effective_ownership for r in api._owner_closure(spark, SF_SMALL, 6, 0.0).collect())
    for threshold in (0.0, raw[len(raw) // 2], raw[-1] + 1.0):
        ref, snap = _both_ways(monkeypatch, lambda: api.ubo_report(spark, SF_SMALL, threshold))
        assert snap.schema == ref.schema
        assert snap.collect() == ref.collect(), threshold
    assert snap.count() == 0  # above every value: empty, with the schema above


def test_gated_requests_start_no_spark_job(spark):
    sc = spark.sparkContext
    api.expand_neighborhood(spark, SF_SMALL, ["c:1"], 2).collect()  # build both halves
    api.ubo_report(spark, SF_SMALL, 0.01).collect()
    sc.setJobGroup("snapshot-requests", "gated expand and ubo")
    try:
        for hops in range(4):
            api.expand_neighborhood(spark, SF_SMALL, ["n:1", "s:2"], hops).limit(1000).collect()
        api.ubo_report(spark, SF_SMALL, 0.02).limit(1000).collect()
        assert sc.statusTracker().getJobIdsForGroup("snapshot-requests") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_clear_view_cache_drops_snapshot(spark, monkeypatch):
    builds = []
    orig = gs.adjacency
    monkeypatch.setattr(gs, "adjacency", lambda *a: builds.append(1) or orig(*a))
    catalog.clear_view_cache()
    first = sorted(api.expand_neighborhood(spark, SF_SMALL, ["c:2"], 2).collect())
    api.expand_neighborhood(spark, SF_SMALL, ["c:3"], 1).collect()
    assert len(builds) == 1 and catalog._SNAPSHOT_CACHE
    catalog.clear_view_cache()
    assert not catalog._SNAPSHOT_CACHE
    assert sorted(api.expand_neighborhood(spark, SF_SMALL, ["c:2"], 2).collect()) == first
    assert len(builds) == 2


def test_concurrent_first_requests_build_once(spark, monkeypatch):
    """More threads than cores race on an empty memo: one adjacency build,
    every thread gets the same rows."""
    builds = []
    orig = gs.adjacency
    monkeypatch.setattr(gs, "adjacency", lambda *a: builds.append(1) or orig(*a))
    catalog.clear_view_cache()
    results: list = []
    lock = threading.Lock()

    def request():
        rows = sorted(gs.expand(spark, SF_SMALL, ["c:5"], 3).collect())
        with lock:
            results.append(rows)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=request) for _ in range(8)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads)
    assert len(results) == 8 and all(r == results[0] for r in results)
    assert len(builds) == 1


# ---------------------------------------------------------------------------
# seeks: shortest_paths and match_path from a bound source predicate
# ---------------------------------------------------------------------------

RELS = ("r1", "r2", "r3")


def _typed_edges(seed: int) -> list[tuple[str, str, str, float | None]]:
    """A random typed digraph with cycles (so trails and walks differ),
    two parallel relationships of different types between one pair, a
    null weight and a node with only in-edges."""
    rng = random.Random(seed)
    nodes = [f"c:{i}" for i in range(12)] + [f"s:{i}" for i in range(6)]
    pairs = set()
    while len(pairs) < 40:
        a, b = rng.sample(nodes, 2)
        pairs.add((a, b))
    edges = [(s, d, rng.choice(RELS), round(rng.uniform(0.1, 0.9), 3)) for s, d in sorted(pairs)]
    s, d, rel, _ = edges[0]
    edges.append((s, d, next(r for r in RELS if r != rel), 0.5))
    edges.append((edges[1][0], edges[1][1], edges[1][2], None))
    edges.append(("c:0", "sink:0", "r1", 0.25))
    return edges


def _seek_graph(edges, numeric: bool):
    ids = {n: i for i, n in enumerate(sorted({x for e in edges for x in e[:2]}))}
    conv = (lambda n: ids[n]) if numeric else (lambda n: n)
    rows = [(conv(s), conv(d), r, w) for s, d, r, w in edges]
    g = gs.SeekGraph(*(list(c) for c in zip(*rows)))
    return g, rows, conv


def _key(row):
    return tuple((-1.0 if v is None else v) if not isinstance(v, str) else v for v in row)


@pytest.mark.parametrize("seed,numeric", [(11, False), (23, True)])
@pytest.mark.parametrize("direction", ["out", "in", "both"])
def test_path_kernel_matches_spark_path_rows(spark, seed, numeric, direction):
    edges = _typed_edges(seed)
    g, rows, conv = _seek_graph(edges, numeric)
    id_t = "BIGINT" if numeric else "STRING"
    df = spark.createDataFrame(rows, f"src {id_t}, dst {id_t}, rel_type STRING, weight DOUBLE")
    # duplicate and unknown seeds next to two real ones
    seeds = [conv("c:0"), conv("c:0"), conv("s:1")]
    unknown = 10**6 if numeric else "x:404"
    pred = "src IN ({})".format(", ".join(repr(s) for s in [*seeds, unknown]))
    for types in (None, {"r1", "r2"}):
        e = df if types is None else df.filter(F.col("rel_type").isin(sorted(types)))
        e = api._directed_view(e, "in") if direction == "in" else e
        for unique in (True, False):
            # path_rows' levels are cumulative: a lo..hi run is the 1..4
            # run's rows with lo <= hops <= hi
            every = path_rows(
                e, 1, 4, src_pred=pred, unique_edges=unique,
                undirected=direction == "both", carry_cost=True,
            ).collect()
            for lo, hi in [(1, 1), (1, 2), (2, 3), (1, 4)]:
                want = [tuple(r) for r in every if lo <= r.hops <= hi]
                got = g.paths([*seeds, unknown], types, direction, lo, hi, unique, 10**6)
                assert sorted(got, key=_key) == sorted(want, key=_key), (types, lo, hi, unique)


@pytest.mark.parametrize("seed", [11, 23])
@pytest.mark.parametrize("direction", ["out", "in", "both"])
def test_distance_kernel_matches_spark_multi_source(spark, seed, direction):
    edges = _typed_edges(seed)
    g, rows, _ = _seek_graph(edges, False)
    df = spark.createDataFrame(rows, "src STRING, dst STRING, rel_type STRING, weight DOUBLE")
    seeds = ["c:0", "c:0", "s:2", "sink:0", "x:404"]
    for types in (None, {"r3"}):
        e = df if types is None else df.filter(F.col("rel_type").isin(sorted(types)))
        e = api._directed_view(e.select("src", "dst"), direction)
        sources = e.select(F.col("src").alias("node")).distinct().filter(F.col("node").isin(seeds))
        for hi in range(1, 5):
            want = multi_source_distances(e, sources, max_depth=hi).collect()
            for lo in (0, 1, 2):
                got = g.distances(seeds, types, direction, lo, hi, 10**6)
                assert sorted(got) == sorted(tuple(r) for r in want if r.dist >= lo), (types, lo, hi)


def test_kernels_stop_past_budget():
    g, _, _ = _seek_graph(_typed_edges(11), False)
    full = g.paths(["c:0", "c:1"], None, "both", 1, 3, False, 10**6)
    assert g.paths(["c:0", "c:1"], None, "both", 1, 3, False, len(full)) == full
    assert g.paths(["c:0", "c:1"], None, "both", 1, 3, False, len(full) - 1) is None
    assert g.distances(["c:0", "c:1"], None, "both", 0, 3, 1) is None


def test_distances_stop_at_first_row_past_budget():
    g, _, _ = _seek_graph(_typed_edges(11), False)
    calls = 0
    steps = g.steps

    def counted(*args):
        nonlocal calls
        calls += 1
        return steps(*args)

    g.steps = counted
    full = g.distances(["c:0"], None, "both", 0, 3, 10**6)
    full_calls, calls = calls, 0
    assert len(full) > 2
    assert g.distances(["c:0"], None, "both", 0, 3, len(full)) == full
    calls = 0
    assert g.distances(["c:0"], None, "both", 0, 3, 1) is None
    assert calls < full_calls


# (label, call) pairs on SF_SMALL; each one is eligible for a seek
SEEKS = [
    ("sp-tc-out", lambda s: api.shortest_paths(
        s, SF_SMALL, ["buys_from", "co_located"], 1, 2, "src = 'c:7'", graph="trade_credit")),
    ("sp-tc-both-0", lambda s: api.shortest_paths(
        s, SF_SMALL, None, 0, 3, "src IN ('c:7', 's:3', 'c:7')", graph="trade_credit",
        direction="both")),
    ("sp-h-in", lambda s: api.shortest_paths(
        s, SF_SMALL, None, 1, 3, "src = 'r:1'", direction="in")),
    ("mp-h-num", lambda s: api.match_path(
        s, SF_SMALL, ["customer_of", "nation_of"], 1, 2, f"{decode_id_sql('src')} = 'c:17'",
        trail=True, carry_weight=True, numeric=True)),
    ("mp-h-in-cost", lambda s: api.match_path(
        s, SF_SMALL, None, 1, 2, "src = 'n:3'", trail=True, direction="in", carry_cost=True)),
    ("mp-tc-both-0", lambda s: api.match_path(
        s, SF_SMALL, None, 0, 3, "src = 'c:4'", graph="trade_credit", trail=True,
        direction="both", carry_weight=True)),
    ("mp-tc-walk", lambda s: api.match_path(
        s, SF_SMALL, ["buys_from", "co_located"], 2, 3, "src = 's:2'", graph="trade_credit",
        carry_weight=True)),
    ("mp-tc-in-0", lambda s: api.match_path(
        s, SF_SMALL, ["buys_from"], 0, 2, f"{decode_id_sql('src')} = 's:4'",
        graph="trade_credit", trail=True, direction="in", carry_cost=True, numeric=True)),
]


@pytest.fixture
def spy(monkeypatch):
    """Counts of the Spark traversals and snapshot seeks a call starts."""
    calls: dict[str, int] = {}

    def wrap(mod, name):
        orig = getattr(mod, name)

        def counted(*a, **k):
            calls[name] = calls.get(name, 0) + 1
            return orig(*a, **k)

        monkeypatch.setattr(mod, name, counted)

    for name in ("path_rows", "multi_source_distances"):
        wrap(graph_algos, name)
    for name in ("paths", "shortest", "_view"):
        wrap(gs, name)
    return calls


@pytest.mark.parametrize("label,call", SEEKS, ids=[s[0] for s in SEEKS])
def test_seek_api_gate_both_ways(spark, monkeypatch, spy, label, call):
    for cap in ("MAX_EDGES", "MAX_SEEDS"):
        monkeypatch.setattr(gs, "MAX_EDGES", 10**9)
        monkeypatch.setattr(gs, "MAX_SEEDS", 16)
        monkeypatch.setattr(gs, cap, -1)
        spy.clear()
        ref = call(spark)
        assert spy.get("path_rows", 0) + spy.get("multi_source_distances", 0) == 1, cap
        monkeypatch.setattr(gs, cap, 10**9)
        spy.clear()
        snap = call(spark)
        assert "path_rows" not in spy and "multi_source_distances" not in spy
        assert snap.schema == ref.schema
        assert sorted(snap.collect(), key=_key) == sorted(ref.collect(), key=_key)


def test_cypher_seek_templates_gate_both_ways(spark, monkeypatch, spy):
    for q, graph in [
        ("""MATCH (a)-[:CUSTOMER_OF|NATION_OF*1..2]->(b) WHERE a.id = $id
            RETURN b AS entity, hops ORDER BY hops, entity""", "hierarchy"),
        ("""MATCH p = shortestPath((a)-[:BUYS_FROM|CO_LOCATED*1..2]->(b))
            WHERE a.id = $id RETURN b, length(p) AS hops ORDER BY b""", "trade_credit"),
    ]:
        monkeypatch.setattr(gs, "MAX_SEEDS", -1)
        ref = api.cypher(spark, SF_SMALL, q, graph=graph, params={"id": "c:9"})
        monkeypatch.setattr(gs, "MAX_SEEDS", 16)
        spy.clear()
        snap = api.cypher(spark, SF_SMALL, q, graph=graph, params={"id": "c:9"})
        assert spy.get("paths", 0) + spy.get("shortest", 0) == 1
        assert "path_rows" not in spy and "multi_source_distances" not in spy
        assert snap.schema == ref.schema
        assert snap.collect() == ref.collect() != []


def test_gated_seek_starts_no_spark_job(spark):
    sc = spark.sparkContext
    for _, call in SEEKS:
        call(spark)  # build the views and their seek indices
    sc.setJobGroup("snapshot-seeks", "gated shortest_paths and match_path")
    try:
        for _, call in SEEKS:
            call(spark)
        assert sc.statusTracker().getJobIdsForGroup("snapshot-seeks") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


@pytest.mark.parametrize(
    "why,call",
    [
        ("seeds over the cap", lambda s: api.match_path(
            s, SF_SMALL, None, 1, 2, "src LIKE 'n:%'", trail=True)),
        ("as_of", lambda s: api.match_path(
            s, SF_SMALL, None, 1, 2, "src = 'c:3'", as_of="1996-01-01 00:00:00", trail=True)),
        ("owns_stake", lambda s: api.match_path(
            s, SF_SMALL, ["owns_stake"], 1, 2, "src = 'c:3'", trail=True)),
        ("business", lambda s: api.shortest_paths(
            s, SF_SMALL, None, 1, 2, "src = 'c:3'", graph="business")),
        ("no src_pred", lambda s: api.shortest_paths(
            s, SF_SMALL, None, 1, 2, None, graph="trade_credit")),
        ("one hop", lambda s: api.match_path(
            s, SF_SMALL, None, 1, 1, "src = 'c:4'", graph="trade_credit", trail=True,
            carry_type=True)),
    ],
)
def test_ineligible_seeks_take_the_spark_path(spark, spy, why, call):
    call(spark)
    assert spy.get("path_rows", 0) + spy.get("multi_source_distances", 0) == 1, why
    if why != "seeds over the cap":  # the free checks build no snapshot
        assert not {"paths", "shortest", "_view"} & set(spy), why


def test_over_budget_seek_takes_the_spark_path(spark, monkeypatch, spy):
    call = SEEKS[5][1]
    want = sorted(call(spark).collect(), key=_key)
    assert spy == {"paths": 1, "_view": 1}
    monkeypatch.setattr(gs, "MAX_PATH_ROWS", 3)
    spy.clear()
    assert sorted(call(spark).collect(), key=_key) == want
    assert spy["paths"] == 1 and spy["path_rows"] == 1


def test_explain_of_gated_seek_is_a_local_table_scan(spark, monkeypatch):
    from mimranalytics_core_spark.serving import _explain_text

    q = """MATCH (a)-[:CUSTOMER_OF|NATION_OF*1..2]->(b) WHERE a.id = $id
           RETURN b AS entity, hops ORDER BY hops, entity"""
    plan = _explain_text(api.cypher(spark, SF_SMALL, q, params={"id": "c:9"}))
    assert "LocalTableScan" in plan and "Scan parquet" not in plan
    monkeypatch.setattr(gs, "MAX_SEEDS", -1)
    plan = _explain_text(api.cypher(spark, SF_SMALL, q, params={"id": "c:9"}))
    assert "Scan parquet" in plan and "LocalTableScan" not in plan


# ---------------------------------------------------------------------------
# whole-graph kernels (graph_kernels) against their Spark functions
# ---------------------------------------------------------------------------

MAX_LEN = 4


def _digraph(seed: int) -> list[tuple[str, str, float | None]]:
    """A seeded random digraph with parallel edges, self-loops, dangling
    nodes (in-edges only), several components, a 25-edge path (longer
    than connected_components' max_iter=20), a 15-edge ring (longer than
    graph_scc's 13 hops), cycles of every length 1..MAX_LEN + 1 and a null
    weight."""
    rng = random.Random(seed)
    blob = [f"c:{i}" for i in range(14)]
    edges = [tuple(rng.sample(blob, 2)) for _ in range(30)]
    edges += [edges[0], edges[3], ("c:2", "c:2"), ("c:5", "c:5")]  # parallel edges, self-loops
    edges += [(rng.choice(blob), f"sink:{i}") for i in range(3)]  # dangling
    edges += [(f"p:{i:02d}", f"p:{i + 1:02d}") for i in range(25)]  # long path
    edges += [(f"r:{i:02d}", f"r:{(i + 1) % 15:02d}") for i in range(15)]  # long ring
    for k in range(1, MAX_LEN + 2):  # one cycle of each length
        edges += [(f"k{k}:{i}", f"k{k}:{(i + 1) % k}") for i in range(k)]
    weighted = [(s, d, round(rng.uniform(0.05, 0.9), 3)) for s, d in edges]
    weighted[1] = (*weighted[1][:2], None)
    return weighted


def _arrays(edges):
    src = pa.chunked_array([pa.array([s for s, _, _ in edges], pa.string())])
    dst = pa.chunked_array([pa.array([d for _, d, _ in edges], pa.string())])
    return gk.index(src, dst)


def _edge_df(spark, edges):
    return spark.createDataFrame(edges, "src STRING, dst STRING, weight DOUBLE")


SEEDS = [7, 41]


@pytest.mark.parametrize("seed", SEEDS)
def test_pagerank_kernel_matches_spark(spark, seed):
    edges = _digraph(seed)
    nodes, src, dst = _arrays(edges)
    ref = graph_algos.pagerank(_edge_df(spark, edges).select("src", "dst"), iters=10)
    want = {r.node: r.rank for r in ref.collect()}
    rank = gk.pagerank(len(nodes), src, dst, iters=10)
    got = dict(zip(nodes.to_pylist(), rank))
    assert set(got) == set(want)
    # sums run in another order: ranks agree to 1e-12 (relative), and the
    # declared F.round(rank, 6) digits are identical
    assert all(abs(got[k] - want[k]) <= 1e-12 * want[k] for k in want)
    spark_digits = dict(
        (r.node, r.r) for r in ref.select("node", F.round("rank", 6).alias("r")).collect()
    )
    assert dict(zip(nodes.to_pylist(), gs.rounded(spark, rank))) == spark_digits


@pytest.mark.parametrize("seed", SEEDS)
def test_label_propagation_matches_connected_components(spark, seed):
    edges = _digraph(seed)
    nodes, src, dst = _arrays(edges)
    ref = graph_algos.connected_components(_edge_df(spark, edges))
    want = {r.node: r.component for r in ref.collect()}
    labels = nodes.take(gk.label_propagation(len(nodes), src, dst))
    got = dict(zip(nodes.to_pylist(), labels.to_pylist()))
    assert got == want
    # the 25-edge path is cut at 20 rounds, as in Spark
    assert got["p:25"] == "p:05" and got["p:00"] == "p:00"


@pytest.mark.parametrize("seed", SEEDS)
def test_brandes_kernel_matches_spark_betweenness(spark, seed):
    edges = _digraph(seed)
    nodes, src, dst = _arrays(edges)
    ids = nodes.to_pylist()
    picked = ["c:0", "c:3", "p:10", "r:00", "k3:0", "sink:1"]
    und = undirect(_edge_df(spark, edges).select("src", "dst"))
    sources = spark.createDataFrame([(p,) for p in picked], "node STRING")
    want = {r.node: r.betweenness for r in graph_algos.betweenness(und, sources).collect()}
    score, has_term = gk.brandes(len(nodes), src, dst, np.array([ids.index(p) for p in picked]))
    # the row set: only nodes some other source gave a backward-phase term
    # (a leaf such as sink:1 as a source, or an unreached node, has none)
    got = {ids[i]: v for i, v in zip(np.flatnonzero(has_term), gk.dround(score[has_term]))}
    # δ sums run in another order (agreeing to ~1e-12); after the
    # declared floor(x·1e6 + 0.5) / 1e6 the rows are identical
    assert got == want
    assert "sink:1" not in got and "p:25" not in got


def _walk_sql(view: str, max_len: int) -> str:
    """api.circular_ownership's recursive walk over a (src, dst) view."""
    return f"""
        WITH RECURSIVE walk(origin, node, depth) AS (
            SELECT src AS origin, dst AS node, 1 AS depth FROM {view}
            UNION ALL
            SELECT w.origin, e.dst, w.depth + 1
            FROM walk w JOIN {view} e ON e.src = w.node
            WHERE w.depth < {max_len} AND w.node <> w.origin
        )
        SELECT DISTINCT origin AS entity_on_cycle FROM walk WHERE node = origin"""


@pytest.mark.parametrize("seed", SEEDS)
def test_cycle_kernel_matches_spark_walk(spark, seed):
    edges = _digraph(seed)
    nodes, src, dst = _arrays(edges)
    _edge_df(spark, edges).createOrReplaceTempView("kernel_test_edges")
    for max_len in range(1, MAX_LEN + 2):
        ref = spark.sql(_walk_sql("kernel_test_edges", max_len))
        want = {r.entity_on_cycle for r in ref.collect()}
        hit = gk.cycle_members(len(nodes), src, dst, max_len)
        got = set(nodes.take(np.flatnonzero(hit)).to_pylist())
        assert got == want, max_len
        # a cycle of length k is found exactly from max_len = k on
        for k in range(1, MAX_LEN + 2):
            assert (f"k{k}:0" in got) == (k <= max_len)


@pytest.mark.parametrize("seed", SEEDS)
def test_registered_op_kernels_match_their_spark_form(spark, seed):
    """graph_scc's closure (13 hops: the 15-edge ring is not one SCC) and
    graph_risk_score's operands, kernel form against Spark form."""
    edges = _digraph(seed)
    nodes, src, dst = _arrays(edges)
    df = _edge_df(spark, edges)
    scc = graph_ops.scc_kernel(nodes, src, dst)
    got = dict(zip(scc["node"].to_pylist(), scc["scc_id"].to_pylist()))
    assert got == {r.node: r.scc_id for r in graph_ops.scc_spark(df).collect()}
    # r:01 reaches r:00 in 14 hops only; a full SCC would label it r:00
    assert got["r:01"] == "r:01" and got["r:07"] == "r:00" and got["k5:4"] == "k5:0"
    risk = graph_ops.risk_kernel(nodes, src, dst)
    rows = zip(*(pa.array(v).to_pylist() for v in risk.values()))
    # pagerank sums in another order; after floor(x·1e6 + 0.5) / 1e6 the
    # rows are identical
    assert sorted(rows) == sorted(tuple(r) for r in graph_ops.risk_spark(df).collect())


@pytest.mark.parametrize("seed", SEEDS)
def test_walk_sum_matches_spark_ubo_closure(spark, seed):
    edges = _digraph(seed)
    nodes, src, dst = _arrays(edges)
    weight = np.array([np.nan if w is None else w for _, _, w in edges])
    df = _edge_df(spark, edges)
    for depth in (1, 3, 6):
        ref = ubo_closure(df, max_depth=depth, threshold=0.0)
        o, e, v = gk.walk_sum(len(nodes), src, dst, weight, src, depth)
        ids = nodes.to_pylist()
        got = {(ids[a], ids[b]): x for a, b, x in zip(o, e, v)}
        want = {(r.owner, r.entity): r.effective_ownership for r in ref.collect()}
        assert set(got) == set(want), depth
        # walks are summed level by level, not walk by walk: values agree
        # to 1e-12 (relative); the memo table's F.round digits and order
        # are the Spark path's
        assert all(abs(got[k] - want[k]) <= 1e-12 * abs(want[k]) for k in want)
        mine = gs._ordered(spark, nodes.take(o), nodes.take(e), v).drop_columns([gs._RAW])
        theirs = (
            ref.select("owner", "entity", F.round("effective_ownership", 6).alias("eo"))
            .orderBy(F.col("eo").desc(), "owner", "entity")
            .collect()
        )
        assert [tuple(r) for r in theirs] == list(zip(*(c.to_pylist() for c in mine.columns)))


def test_rounded_matches_spark_round(spark):
    """half_up decides from the binary value; ties within a few ulps go to
    Spark's F.round (over a local frame) — together they are F.round."""
    rng = np.random.default_rng(5)
    ties = (np.arange(-200, 200) + 0.5) / 1e6  # x.xxxxxx5: decimal ties
    x = np.concatenate(
        [rng.random(2000), rng.random(200) * 1e4, ties, ties * 7, [0.0, -0.0, 2.5e-7, 1e-12, 4e9]]
    )
    out, unsure = gk.half_up(x, 6)
    # random values are decided from the binary value; the decimal ties are not
    assert not unsure[:2200].any() and unsure[2200:3000].all()
    local = spark.createDataFrame(pa.table({"x": x}))
    want = [r[0] for r in local.select(F.round("x", 6)).collect()]
    assert gs.rounded(spark, x).tolist() == want


# ---------------------------------------------------------------------------
# the gated batch reports against the Spark path on SF_SMALL
# ---------------------------------------------------------------------------

BATCH = [
    ("pagerank", lambda s: api.centrality(s, SF_SMALL, "pagerank")),
    ("component", lambda s: api.centrality(s, SF_SMALL, "component")),
    ("betweenness", lambda s: api.centrality(s, SF_SMALL, "betweenness")),
    ("circular", lambda s: api.circular_ownership(s, SF_SMALL, 4)),
    ("circular-2", lambda s: api.circular_ownership(s, SF_SMALL, 2)),
    ("viz", lambda s: api.export_graph_viz(s, SF_SMALL, ["n:1", "c:3", "zz:9"], 2)),
    ("viz-0", lambda s: api.export_graph_viz(s, SF_SMALL, ["r:0"], 0)),
    ("ubo", lambda s: api.ubo_report(s, SF_SMALL, 0.01)),
    ("risk", lambda s: all_ops()["graph_risk_score"].fn(s, SF_SMALL)),
    ("scc", lambda s: all_ops()["graph_scc"].fn(s, SF_SMALL)),
]


@pytest.mark.parametrize("label,call", BATCH, ids=[b[0] for b in BATCH])
def test_batch_reports_gate_both_ways(spark, monkeypatch, label, call):
    ref, snap = _both_ways(monkeypatch, lambda: call(spark))
    assert snap.schema == ref.schema
    assert [f.nullable for f in snap.schema] == [f.nullable for f in ref.schema]
    want = ref.collect()
    got = snap.collect()
    if label == "ubo":  # ordered like the Spark path
        assert got == want
    assert sorted(got, key=_key) == sorted(want, key=_key) != []


def test_gated_batch_reports_start_no_spark_job(spark):
    sc = spark.sparkContext
    for _, call in BATCH:
        call(spark)  # fetch both views
    sc.setJobGroup("snapshot-batch", "gated batch reports")
    try:
        for _, call in BATCH:
            call(spark).collect()
        assert sc.statusTracker().getJobIdsForGroup("snapshot-batch") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


_RESTART = """
import sys
from mimranalytics_core_spark import api, catalog
from mimranalytics_core_spark.session import get_spark

sf = sys.argv[1]
first = get_spark("cache-restart-1")
api.expand_neighborhood(first, sf, ["c:1"], 2)
old = {k[0][0] for k in [*catalog._VIEW_CACHE, *catalog._SNAPSHOT_CACHE]}
first.stop()
second = get_spark("cache-restart-2")
api.expand_neighborhood(second, sf, ["c:1"], 2)
new = {k[0][0] for k in [*catalog._VIEW_CACHE, *catalog._SNAPSHOT_CACHE]}
print(len(old), len(new), old & new == set(), new == {second.sparkContext.applicationId})
second.stop()
"""


def test_stopped_session_entries_are_dropped(tmp_path):
    """A process that stops its session and starts another keeps no view
    plan or snapshot of the stopped one (its own JVM: the suite's session
    stays up)."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "PYTHONPATH": root, "SPARK_GRAFT_DRIVER_MEM": "1g"}
    env["SPARK_GRAFT_CPUS"] = "1"
    out = subprocess.run(
        [sys.executable, "-c", _RESTART, SF_SMALL], capture_output=True, text=True,
        env=env, cwd=tmp_path, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.split()[-2:] == ["True", "True"], out.stdout

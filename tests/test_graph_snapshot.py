"""Differential tests for the driver-side graph snapshot
(functions/graph_snapshot.py): its BFS and closure kernels against the
Spark algorithms on seeded random edge lists, and the gated API against the
Spark path on the small fixture with the gate forced both ways."""

from __future__ import annotations

import random
import sys
import threading

import pytest
from pyspark.sql import functions as F

from mimranalytics_core_spark import api, catalog
from mimranalytics_core_spark.functions import graph_snapshot as gs
from mimranalytics_core_spark.functions.graph_algos import (
    bfs_distances,
    ubo_closure,
    undirect,
)
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
        got = gs.bfs(adj, seeds, hops)
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

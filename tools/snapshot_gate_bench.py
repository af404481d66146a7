"""Time the snapshot's whole-graph kernels against their Spark paths at the gate.

    python tools/snapshot_gate_bench.py [--edges 250000] [--spark 1]

Builds a hierarchy-shaped synthetic edge list of exactly ``--edges`` edges
(customers and suppliers → 25 nations → 5 regions, customer weights
normalised per nation), then for each kernel of
``functions/graph_kernels.py`` prints its wall time (an untraced call)
and ``tracemalloc`` peak (a second, traced call), and with ``--spark 1``
the wall time of the Spark function it stands in for on the same edges
(each forced to completion by a count).
The last rows are a bound-id seek: ``SeekGraph.distances`` against Spark
``multi_source_distances`` from 16 customers at 3 hops, and the same seek
held to ``graph_snapshot.MAX_PATH_ROWS``, which it exceeds: the kernel's
cost of declining before Spark answers (kernel only).
Set ``SPARK_GRAFT_CPUS`` to pin the Spark side's local[N].
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import tracemalloc

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mimranalytics_core_spark.functions import graph_kernels as gk  # noqa: E402
from mimranalytics_core_spark.functions.graph_snapshot import MAX_PATH_ROWS  # noqa: E402

VIZ_SEEDS = ["n:3", "n:17"]  # api.export_graph_viz at 2 hops, as the nightly pass calls it
# a bound-id seek at the seed cap (graph_snapshot.MAX_SEEDS), 3 hops on the undirected view
SEEK_SEEDS = [f"c:{i}" for i in range(0, 16_000, 1_000)]


def synthetic(n_edges: int, seed: int = 0) -> pa.Table:
    rng = np.random.default_rng(seed)
    n_nat, n_reg = 25, 5
    n_cust = (n_edges - n_nat) * 9 // 10
    n_supp = n_edges - n_nat - n_cust
    c_nat = rng.integers(0, n_nat, n_cust)
    bal = rng.random(n_cust)
    weight = bal / np.bincount(c_nat, weights=bal, minlength=n_nat)[c_nat]
    src = [f"c:{i}" for i in range(n_cust)] + [f"s:{i}" for i in range(n_supp)]
    src += [f"n:{i}" for i in range(n_nat)]
    dst = [f"n:{k}" for k in c_nat] + [f"n:{k}" for k in rng.integers(0, n_nat, n_supp)]
    dst += [f"r:{i % n_reg}" for i in range(n_nat)]
    rel = ["customer_of"] * n_cust + ["supplier_of"] * n_supp + ["nation_of"] * n_nat
    w = np.concatenate([weight, np.ones(n_supp + n_nat)])
    return pa.table({"src": src, "dst": dst, "rel_type": rel, "weight": w})


def measure(fn):
    """(wall s, peak MiB): the wall from an untraced call, the peak from a
    second, traced one, since ``tracemalloc`` slows allocation-heavy
    kernels unevenly and would misrank their walls."""
    t0 = time.perf_counter()
    fn()
    wall = time.perf_counter() - t0
    tracemalloc.start()
    fn()
    peak = tracemalloc.get_traced_memory()[1]
    tracemalloc.stop()
    return round(wall, 3), round(peak / 2**20, 1)


def kernels(tbl: pa.Table) -> dict:
    from mimranalytics_core_spark.operators import graph as graph_ops

    nodes, src, dst = gk.index(tbl["src"], tbl["dst"])
    n = len(nodes)
    weight = tbl["weight"].to_numpy()
    owners = src[np.array(tbl["rel_type"].to_pylist()) == "customer_of"]
    ids = nodes.to_pylist()
    tier = np.array([i for i, v in enumerate(ids) if v.startswith(("n:", "r:"))])
    adj = gk.adjacency(tbl["src"].to_pylist(), tbl["dst"].to_pylist())  # memoized per view
    cols = ("src", "dst", "rel_type", "weight")
    seek = gk.SeekGraph(*(tbl[c].to_pylist() for c in cols))  # memoized per view

    def viz():
        inside = np.zeros(n, bool)
        seen = pa.array([v for v, _ in gk.bfs(adj, VIZ_SEEDS, 2)])
        inside[pc.index_in(seen, value_set=nodes).drop_null().to_numpy()] = True
        keep = inside[src] & inside[dst]
        return np.unique(src[keep] * n + dst[keep])

    return {
        "index": lambda: gk.index(tbl["src"], tbl["dst"]),
        "pagerank": lambda: gk.pagerank(n, src, dst, iters=10),
        "label_propagation": lambda: gk.label_propagation(n, src, dst),
        "brandes": lambda: gk.brandes(n, src, dst, tier),
        "cycle_members": lambda: gk.cycle_members(n, src, dst, 4),
        "reach_closure (graph_scc)": lambda: graph_ops.scc_kernel(nodes, src, dst),
        "risk (graph_risk_score)": lambda: graph_ops.risk_kernel(nodes, src, dst),
        "walk_sum (ubo, depth 6)": lambda: gk.walk_sum(n, src, dst, weight, owners, 6),
        "viz (bfs + induced edges)": viz,
        "seek distances (16 seeds, 3 hops)": lambda: seek.distances(
            SEEK_SEEDS, None, "both", 0, 3, budget=10**9
        ),
        "seek past budget (16 seeds, 3 hops)": lambda: seek.distances(
            SEEK_SEEDS, None, "both", 0, 3, budget=MAX_PATH_ROWS
        ),
    }


def spark_paths(spark, tbl: pa.Table) -> dict:
    from pyspark.sql import functions as F

    from mimranalytics_core_spark.functions import graph_algos as ga
    from mimranalytics_core_spark.operators import graph as graph_ops

    edges = spark.createDataFrame(tbl).localCheckpoint(eager=True)
    edges.createOrReplaceTempView("gate_edges")
    und = ga.undirect(edges)
    tier = und.select(F.col("src").alias("node")).filter(
        F.col("node").startswith("n:") | F.col("node").startswith("r:")
    ).distinct()
    owners = edges.filter(F.col("rel_type") == "customer_of").select("src").distinct()
    # api.circular_ownership's walk (depth 4)
    walk = """
        WITH RECURSIVE walk(origin, node, depth) AS (
            SELECT src, dst, 1 FROM gate_edges
            UNION ALL
            SELECT w.origin, e.dst, w.depth + 1 FROM walk w JOIN gate_edges e ON e.src = w.node
            WHERE w.depth < 4 AND w.node <> w.origin)
        SELECT DISTINCT origin FROM walk WHERE node = origin"""

    def viz():
        seeds = spark.createDataFrame([(v,) for v in VIZ_SEEDS], "node STRING")
        keep = ga.bfs_distances(und, seeds, max_depth=2).select("node")
        return (
            edges.select("src", "dst")
            .join(keep.withColumnRenamed("node", "src"), "src", "left_semi")
            .join(keep.withColumnRenamed("node", "dst"), "dst", "left_semi")
            .distinct()
        )

    def ubo():
        u = ga.ubo_closure(edges, max_depth=6, threshold=0.0)
        return u.join(owners, u.owner == owners.src, "left_semi")

    return {
        "pagerank": lambda: ga.pagerank(edges.select("src", "dst"), iters=10),
        "label_propagation": lambda: ga.connected_components(edges.select("src", "dst")),
        "brandes": lambda: ga.betweenness(und, tier),
        "cycle_members": lambda: spark.sql(walk),
        "reach_closure (graph_scc)": lambda: graph_ops.scc_spark(edges),
        "risk (graph_risk_score)": lambda: graph_ops.risk_spark(edges),
        "walk_sum (ubo, depth 6)": ubo,
        "viz (bfs + induced edges)": viz,
        "seek distances (16 seeds, 3 hops)": lambda: ga.multi_source_distances(
            und, spark.createDataFrame([(v,) for v in SEEK_SEEDS], "node STRING"), max_depth=3
        ),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--edges", type=int, default=250_000)
    ap.add_argument("--spark", type=int, choices=(0, 1), default=1)
    args = ap.parse_args()
    tbl = synthetic(args.edges)
    out = {"edges": tbl.num_rows, "kernel_s_peak_mib": {}, "spark_s": {}}
    for name, fn in kernels(tbl).items():
        out["kernel_s_peak_mib"][name] = measure(fn)
    if args.spark:
        from mimranalytics_core_spark.session import get_spark

        spark = get_spark("snapshot-gate-bench")
        spark.sparkContext.setLogLevel("ERROR")
        for name, fn in spark_paths(spark, tbl).items():
            t0 = time.perf_counter()
            fn().count()
            out["spark_s"][name] = round(time.perf_counter() - t0, 3)
        spark.stop()
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()

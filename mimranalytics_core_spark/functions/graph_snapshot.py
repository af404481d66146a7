"""Driver-side snapshot of the hierarchy graph for interactive requests.

At interactive scale the cost of ``api.expand_neighborhood`` and
``api.ubo_report`` on Spark is per-job overhead, not compute: 12–26 jobs
and ~2 s per request over a graph of a few thousand edges, where a plain
in-process BFS takes well under a millisecond. Below a size gate this
module answers both from a snapshot of ``catalog.hierarchy_edges`` held in
the driver — the reference's own single-heap NetworkX step, built once and
reused per request.

Two halves, each built lazily on first use under one lock:

- the **adjacency**: an undirected ``node → [neighbours]`` map from one
  ``toArrow()`` of the edge view, answered by a plain level BFS with the
  exact semantics of ``graph_algos.bfs_distances`` over ``undirect``ed
  edges (seeds de-duplicated, unknown seeds kept at hop 0, stop on an empty
  frontier);
- the **closure** per ``max_depth``: the existing Spark ``ubo_closure`` run
  once at threshold 0 (with the caller's owner restriction), rounded to 6
  digits and ordered like the Spark path, keeping the unrounded column so
  each request filters ``>= threshold`` on the very doubles the Spark path
  compares.

Results go back as ``spark.createDataFrame(pyarrow.Table)`` — a job-free
``LocalTableScan`` with the Spark path's schema and order — so serving,
export and every other caller are unchanged.

Gate: :data:`MAX_EDGES` on the exact edge count (customer + supplier +
nation rows, one edge each), read without a job from the parquet footers
(``hints.source_rows``). An unknown count takes the Spark path, which stays
the scale path above the gate and the reference the tests compare against
below it.

Lifetime: entries are keyed per (session, sf_dir) in
``catalog._SNAPSHOT_CACHE`` beside the memoized view plans, and
``catalog.clear_view_cache()`` drops both.
"""

from __future__ import annotations

import threading
from typing import Callable

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mimranalytics_core_spark import catalog
from mimranalytics_core_spark.functions.hints import source_rows
from mimranalytics_core_spark.operators._base import _session_key, tables

# Largest hierarchy (in edges) answered from the snapshot. At this size the
# adjacency holds ~56 MiB of Python objects (tracemalloc; ~63 MiB RSS) and
# the depth-6 closure ~16 MiB of Arrow buffers, ~75 MiB of driver memory in
# all; sf1 (160,025 edges) is inside the gate.
MAX_EDGES = 250_000

_RAW = "__raw_ownership"
_UBO_ORDER = [
    ("effective_ownership", "descending"),
    ("owner", "ascending"),
    ("entity", "ascending"),
]
# the Spark path's schema: bfs_distances' hop is a non-null literal level
_EXPAND_SCHEMA = pa.schema([("node", pa.string()), pa.field("hop", pa.int32(), nullable=False)])

# one lock for lookups and builds: concurrent first requests wait for a
# single build instead of racing to run the same Spark jobs twice
_LOCK = threading.Lock()


class _Snapshot:
    """One (session, sf_dir) entry; the halves fill on first use."""

    __slots__ = ("n_edges", "adjacency", "closures")

    def __init__(self, n_edges: int | None) -> None:
        self.n_edges = n_edges
        self.adjacency: dict[str, list[str]] | None = None
        self.closures: dict[int, pa.Table] = {}


# ---------------------------------------------------------------------------
# kernels (pure; tests/test_graph_snapshot.py checks them against Spark)
# ---------------------------------------------------------------------------


def adjacency(src: list[str], dst: list[str]) -> dict[str, list[str]]:
    """Undirected adjacency of a directed edge list (parallel edges kept;
    the BFS visits each node once regardless)."""
    adj: dict[str, list[str]] = {}
    for s, d in zip(src, dst):
        adj.setdefault(s, []).append(d)
        adj.setdefault(d, []).append(s)
    return adj


def bfs(adj: dict[str, list[str]], seeds: list[str], hops: int) -> dict[str, int]:
    """Min-hop distance ≤ ``hops`` from ``seeds``, in discovery order."""
    dist = dict.fromkeys(seeds, 0)
    frontier = list(dist)
    for level in range(1, hops + 1):
        nxt = []
        for node in frontier:
            for m in adj.get(node, ()):
                if m not in dist:
                    dist[m] = level
                    nxt.append(m)
        if not nxt:
            break
        frontier = nxt
    return dist


def expand_table(dist: dict[str, int]) -> pa.Table:
    """(node, hop) rows ordered by hop, then node."""
    rows = sorted(dist.items(), key=lambda kv: (kv[1], kv[0]))
    return pa.table(
        [pa.array([n for n, _ in rows], pa.string()), pa.array([h for _, h in rows], pa.int32())],
        schema=_EXPAND_SCHEMA,
    )


def closure_table(closure: DataFrame) -> pa.Table:
    """One collect of an (owner, entity, effective_ownership) closure:
    Spark rounds (so the digits match the Spark path's ``F.round``), Arrow
    orders like the Spark path's ``orderBy``, and the unrounded value rides
    along for the per-request threshold."""
    tbl = closure.select(
        "owner",
        "entity",
        F.round("effective_ownership", 6).alias("effective_ownership"),
        F.col("effective_ownership").alias(_RAW),
    ).toArrow()
    return tbl.sort_by(_UBO_ORDER)


def at_threshold(closure: pa.Table, threshold: float) -> pa.Table:
    """Rows whose unrounded ownership is ``>= threshold``, order kept."""
    keep = pc.greater_equal(closure[_RAW], pa.scalar(float(threshold), pa.float64()))
    return closure.filter(keep).drop_columns([_RAW])


# ---------------------------------------------------------------------------
# gated entry points for api.py (None = take the Spark path)
# ---------------------------------------------------------------------------


def _entry(spark: SparkSession, sf_dir: str) -> _Snapshot | None:
    """The memo entry if the hierarchy is within the gate; call under _LOCK."""
    key = (_session_key(spark), sf_dir)
    snap = catalog._SNAPSHOT_CACHE.get(key)
    if snap is None:
        tbls = tables(spark, sf_dir)
        counts = [source_rows(tbls[name]) for name in ("customer", "supplier", "nation")]
        snap = _Snapshot(None if None in counts else sum(counts))
        catalog._SNAPSHOT_CACHE[key] = snap
    if snap.n_edges is None or snap.n_edges > MAX_EDGES:
        return None
    return snap


def expand(
    spark: SparkSession, sf_dir: str, entities: list[str], hops: int
) -> DataFrame | None:
    """``api.expand_neighborhood`` from the snapshot, or None above the gate."""
    with _LOCK:
        snap = _entry(spark, sf_dir)
        if snap is None:
            return None
        if snap.adjacency is None:
            edges = catalog.hierarchy_edges(spark, sf_dir).select("src", "dst").toArrow()
            snap.adjacency = adjacency(edges["src"].to_pylist(), edges["dst"].to_pylist())
        adj = snap.adjacency
    return spark.createDataFrame(expand_table(bfs(adj, entities, hops)))


def ubo(
    spark: SparkSession,
    sf_dir: str,
    threshold: float,
    max_depth: int,
    closure: Callable[[], DataFrame],
) -> DataFrame | None:
    """``api.ubo_report`` from the snapshot, or None above the gate.
    ``closure()`` builds the threshold-0 Spark closure on the first call
    for this ``max_depth``."""
    with _LOCK:
        snap = _entry(spark, sf_dir)
        if snap is None:
            return None
        if max_depth not in snap.closures:
            snap.closures[max_depth] = closure_table(closure())
        tbl = snap.closures[max_depth]
    return spark.createDataFrame(at_threshold(tbl, threshold))

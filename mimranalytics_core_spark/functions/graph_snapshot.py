"""Driver-side snapshot of the graph views for interactive requests.

At interactive scale a Spark traversal costs per-job overhead, not compute:
a dozen or more jobs and 0.6–2 s per request over a few thousand edges,
where an in-process traversal takes well under a millisecond. Below the
gates (:data:`MAX_EDGES`, :data:`MAX_SEEDS`, :data:`MAX_PATH_ROWS`) this
module answers such calls from the edge views held in the driver — the
reference's own single-heap NetworkX step. Each view (``hierarchy``,
``trade_credit``) is fetched once by one ``toArrow()`` of its typed edge
table; the rest derives from it lazily, under one lock:

- the hierarchy's undirected adjacency (``api.expand_neighborhood``), a
  level BFS with ``graph_algos.bfs_distances`` semantics;
- the closure per ``max_depth`` (``api.ubo_report``): the Spark
  ``ubo_closure`` at threshold 0, rounded and ordered like the Spark path,
  with the unrounded column kept for each request's filter;
- the seek index (``api.shortest_paths``, ``api.match_path``): per-node
  edge indices (:class:`SeekGraph`) and node LocalRelations over which
  ``src_pred`` picks the seeds with no job (``ConvertToLocalRelation``).

Results are ``spark.createDataFrame(pyarrow.Table)`` frames, job-free
``LocalTableScan``s with the Spark path's schema. An entry point returning
None means: take the Spark path, the scale path and the tests' reference.
Entries are keyed per (session, sf_dir) in ``catalog._SNAPSHOT_CACHE``;
``catalog.clear_view_cache()`` drops them.
"""

from __future__ import annotations

import threading
from typing import Callable

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.errors.exceptions.captured import CapturedException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mimranalytics_core_spark import catalog
from mimranalytics_core_spark.functions.hints import source_rows
from mimranalytics_core_spark.operators._base import _session_key, tables

# Largest graph view (in edges) answered from the snapshot: for the
# hierarchy the customer + supplier + nation parquet footer rows (no job;
# unknown = Spark path), for the trade-credit view (keys < 50 by its
# declared semantics) the fetched table's rows. At this size the
# hierarchy's typed table, adjacency, seek index and node relation hold
# ~175 MiB of driver memory and the depth-6 closure ~16 MiB of Arrow
# buffers (README "Serving and the API"); sf1 (160,025 edges) is inside.
MAX_EDGES = 250_000
# Most seeds a seek answers from the snapshot: bound ids and short id
# lists. A label scan (25 nations, 50 trade-credit customers) selects more
# and takes the Spark path.
MAX_SEEDS = 16
# Most rows a seek enumerates (every level, as path_rows' union holds
# them) before it stops and takes the Spark path.
MAX_PATH_ROWS = 100_000
SEEK_GRAPHS = ("hierarchy", "trade_credit")
DIRECTIONS = ("out", "in", "both")

_EDGE_COLS = ["src", "dst", "src_n", "dst_n", "rel_type", "weight"]
_RAW = "__raw_ownership"
_UBO_ORDER = [("effective_ownership", "descending"), ("owner", "ascending"), ("entity", "ascending")]
# the Spark path's schema: bfs_distances' hop is a non-null literal level
_EXPAND_SCHEMA = pa.schema([("node", pa.string()), pa.field("hop", pa.int32(), nullable=False)])
_HOPS = pa.field("hops", pa.int32(), nullable=False)

# one lock for lookups and builds: concurrent first requests wait for a
# single build instead of racing to run the same Spark jobs twice
_LOCK = threading.Lock()


class _View:
    """One view's typed edge table; the adjacency (expand) and the seek
    index (:func:`_seek_index`) are derived from it on first use."""

    __slots__ = ("tbl", "src", "dst", "undirected", "seek")

    def __init__(self, tbl: pa.Table) -> None:
        self.tbl, self.src, self.dst = tbl, tbl["src"].to_pylist(), tbl["dst"].to_pylist()
        self.undirected: dict[str, list[str]] | None = None
        self.seek: tuple | None = None


class _Snapshot:
    """One (session, sf_dir) entry; the views and closures fill on first use."""

    __slots__ = ("n_edges", "views", "closures")

    def __init__(self, n_edges: int | None) -> None:
        self.n_edges, self.views, self.closures = n_edges, {}, {}


# kernels (pure; tests/test_graph_snapshot.py checks them against Spark)


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
        "owner", "entity", F.round("effective_ownership", 6).alias("effective_ownership"),
        F.col("effective_ownership").alias(_RAW),
    ).toArrow()
    return tbl.sort_by(_UBO_ORDER)


def at_threshold(closure: pa.Table, threshold: float) -> pa.Table:
    """Rows whose unrounded ownership is ``>= threshold``, order kept."""
    keep = pc.greater_equal(closure[_RAW], pa.scalar(float(threshold), pa.float64()))
    return closure.filter(keep).drop_columns([_RAW])


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
        the directed view; None past ``budget`` rows."""
        rows = []
        for s in dict.fromkeys(seeds):
            if next(self.steps(s, types, direction), None) is None:
                continue
            dist = {s: 0}
            frontier = [s]
            for level in range(1, max_hops + 1):
                nxt = []
                for node in frontier:
                    for m, _ in self.steps(node, types, direction):
                        if m not in dist:
                            dist[m] = level
                            nxt.append(m)
                if not nxt:
                    break
                frontier = nxt
            rows += [(s, n, d) for n, d in dist.items() if d >= min_hops]
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


# gated entry points for api.py (None = take the Spark path)


def _entry(spark: SparkSession, sf_dir: str) -> _Snapshot:
    """The memo entry, created with the hierarchy's footer edge count;
    call under _LOCK."""
    key = (_session_key(spark), sf_dir)
    snap = catalog._SNAPSHOT_CACHE.get(key)
    if snap is None:
        tbls = tables(spark, sf_dir)
        counts = [source_rows(tbls[name]) for name in ("customer", "supplier", "nation")]
        snap = _Snapshot(None if None in counts else sum(counts))
        catalog._SNAPSHOT_CACHE[key] = snap
    return snap


def _within_gate(snap: _Snapshot) -> bool:
    return snap.n_edges is not None and snap.n_edges <= MAX_EDGES


def _view(spark: SparkSession, sf_dir: str, graph: str) -> _View | None:
    """The typed edge table of ``graph`` if within the gate, fetched once;
    call under _LOCK."""
    snap = _entry(spark, sf_dir)
    if graph == "hierarchy" and not _within_gate(snap):
        return None
    view = snap.views.get(graph)
    if view is None:
        fn = catalog.hierarchy_edges if graph == "hierarchy" else catalog.trade_credit_edges
        view = snap.views[graph] = _View(fn(spark, sf_dir).select(*_EDGE_COLS).toArrow())
    return view if view.tbl.num_rows <= MAX_EDGES else None


def expand(spark: SparkSession, sf_dir: str, entities: list[str], hops: int) -> DataFrame | None:
    """``api.expand_neighborhood`` from the snapshot, or None above the gate."""
    with _LOCK:
        view = _view(spark, sf_dir, "hierarchy")
        if view is None:
            return None
        if view.undirected is None:
            view.undirected = adjacency(view.src, view.dst)
        adj = view.undirected
    return spark.createDataFrame(expand_table(bfs(adj, entities, hops)))


def ubo(
    spark: SparkSession, sf_dir: str, threshold: float, max_depth: int,
    closure: Callable[[], DataFrame],
) -> DataFrame | None:
    """``api.ubo_report`` from the snapshot, or None above the gate.
    ``closure()`` builds the threshold-0 Spark closure on the first call
    for this ``max_depth``."""
    with _LOCK:
        snap = _entry(spark, sf_dir)
        if not _within_gate(snap):
            return None
        if max_depth not in snap.closures:
            snap.closures[max_depth] = closure_table(closure())
        tbl = snap.closures[max_depth]
    return spark.createDataFrame(at_threshold(tbl, threshold))


def _seek_index(spark: SparkSession, view: _View) -> tuple:
    """(SeekGraph, string id → encoded long, node LocalRelation per id
    representation)."""
    tbl = view.tbl
    rel = tbl["rel_type"].combine_chunks().dictionary_encode()  # one str per type
    names = rel.dictionary.to_pylist()
    rel = [names[i] for i in rel.indices.to_pylist()]
    graph = SeekGraph(view.src, view.dst, rel, tbl["weight"].to_pylist())
    num = dict(zip(view.src, tbl["src_n"].to_pylist()))
    num.update(zip(view.dst, tbl["dst_n"].to_pylist()))
    nodes = spark.createDataFrame(
        pa.table({"id": pa.array(list(num), pa.string()), "id_n": pa.array(num.values(), pa.int64())})
    )
    # src_pred reads ``src``: the string id, or the encoded long (numeric)
    by_rep = {
        numeric: nodes.select(F.col("id_n" if numeric else "id").alias("src"), "id")
        for numeric in (False, True)
    }
    return graph, num, by_rep


def _seek(spark: SparkSession, sf_dir: str, graph: str, src_pred: str, numeric: bool):
    """(view, SeekGraph, id map, seeds), or None when the view is over the
    gate, ``src_pred`` selects more than :data:`MAX_SEEDS` nodes, or it
    fails over the node LocalRelation (the Spark path then reports the
    error as before). ``src_pred`` reads ``src``, the encoded long when
    ``numeric``."""
    with _LOCK:
        view = _view(spark, sf_dir, graph)
        if view is None:
            return None
        if view.seek is None:
            view.seek = _seek_index(spark, view)
        seek_graph, num, by_rep = view.seek
    try:
        picked = by_rep[numeric].filter(F.expr(src_pred)).limit(MAX_SEEDS + 1).collect()
    except CapturedException:
        return None
    if len(picked) > MAX_SEEDS:
        return None
    return view, seek_graph, num, [r.id for r in picked]


def _frame(spark: SparkSession, tbl: pa.Table, rows: list[tuple], numeric: bool, *extra: pa.Field):
    """(src, dst, *extra) rows as a local frame (row values past the last
    field are dropped); src and dst are typed like the view's id columns,
    nullable if either is (either may feed either)."""
    s, d = (tbl.schema.field(c) for c in (("src_n", "dst_n") if numeric else ("src", "dst")))
    fields = [pa.field(c, s.type, s.nullable or d.nullable) for c in ("src", "dst")] + list(extra)
    cols = list(zip(*rows)) if rows else [()] * len(fields)
    return spark.createDataFrame(
        pa.table([pa.array(c, f.type) for c, f in zip(cols, fields)], schema=pa.schema(fields))
    )


def shortest(
    spark: SparkSession, sf_dir: str, graph: str, edge_types, direction: str,
    src_pred: str, min_hops: int, max_hops: int,
) -> DataFrame | None:
    """``api.shortest_paths`` without paths: (src, dst, hops) by a BFS per
    seed, or None (take the Spark path)."""
    seek = _seek(spark, sf_dir, graph, src_pred, numeric=False)
    if seek is None:
        return None
    view, seek_graph, _, seeds = seek
    types = None if edge_types is None else set(edge_types)
    rows = seek_graph.distances(seeds, types, direction, min_hops, max_hops, MAX_PATH_ROWS)
    return None if rows is None else _frame(spark, view.tbl, rows, False, _HOPS)


def paths(
    spark: SparkSession, sf_dir: str, graph: str, edge_types, direction: str,
    src_pred: str, min_hops: int, max_hops: int, unique_edges: bool,
    numeric: bool, carry_cost: bool,
) -> DataFrame | None:
    """``path_rows`` over the ``direction`` view of ``graph``'s typed edges:
    (src, dst, hops, path_weight[, path_cost]), with encoded-long ids when
    ``numeric``, or None (take the Spark path)."""
    if not 1 <= min_hops <= max_hops:
        return None  # path_rows raises the range error
    seek = _seek(spark, sf_dir, graph, src_pred, numeric)
    if seek is None:
        return None
    view, seek_graph, num, seeds = seek
    types = None if edge_types is None else set(edge_types)
    rows = seek_graph.paths(seeds, types, direction, min_hops, max_hops, unique_edges, MAX_PATH_ROWS)
    if rows is None:
        return None
    if numeric:
        rows = [(num[s], num[d], *rest) for s, d, *rest in rows]
    weight = view.tbl.schema.field("weight")
    costs = [weight.with_name("path_cost")] if carry_cost else []
    return _frame(spark, view.tbl, rows, numeric, _HOPS, weight.with_name("path_weight"), *costs)

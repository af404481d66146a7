"""Driver-side snapshot of the graph views for interactive and nightly calls.

At these sizes a Spark graph call costs per-job overhead, not compute:
from a dozen to ~90 jobs and 0.6–9 s over a few thousand edges, where the
in-process kernels of ``functions/graph_kernels.py`` take milliseconds.
Below the gates (:data:`MAX_EDGES`, :data:`MAX_SEEDS`,
:data:`MAX_PATH_ROWS`) this module answers such calls from the edge views
held in the driver — the reference's own single-heap NetworkX step. It
holds the gates, the memo and the frames; the callers in ``api`` and
``operators/graph.py`` compose the kernels. Each view (``hierarchy``,
``trade_credit``) is fetched once by one ``toArrow()`` of its typed edge
table; the rest derives from it on first use, under one lock:

- the undirected adjacency (:func:`neighborhood`: ``/expand`` and the
  graph-viz BFS), with ``graph_algos.bfs_distances`` semantics;
- the seek index (``api.shortest_paths``, ``api.match_path``): per-node
  edge indices (``SeekGraph``) and node LocalRelations over which
  ``src_pred`` picks the seeds with no job (``ConvertToLocalRelation``);
- the integer-indexed edge arrays (:func:`arrays`) that the whole-graph
  kernels run on, outside the lock: centrality, cycles, graph-viz edges,
  ``graph_risk_score``, ``graph_scc``, and the UBO closure per
  ``max_depth`` (:func:`ubo`), kept at threshold 0 with the unrounded
  column for each request's filter.

Results are ``spark.createDataFrame(pyarrow.Table)`` frames, job-free
``LocalTableScan``s with the Spark path's schema, nullability included;
:func:`rounded` gives ``F.round``'s digits. An entry point returning None
means: take the Spark path, the scale path and the tests' reference.
Entries are keyed per (session, sf_dir) in ``catalog._SNAPSHOT_CACHE``;
``catalog.clear_view_cache()`` drops them, and creating one drops those
of a stopped SparkContext.
"""

from __future__ import annotations

import threading

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.errors.exceptions.captured import CapturedException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mimranalytics_core_spark import catalog
from mimranalytics_core_spark.functions.graph_kernels import (
    SeekGraph,
    adjacency,
    bfs,
    half_up,
    index,
    walk_sum,
)
from mimranalytics_core_spark.functions.hints import source_rows
from mimranalytics_core_spark.operators._base import _session_key, tables

# Largest graph view (in edges) answered from the snapshot: for the
# hierarchy the customer + supplier + nation parquet footer rows (no job;
# unknown = Spark path), for the trade-credit view (keys < 50 by its
# declared semantics) the fetched table's rows. At this size the
# hierarchy's typed table, adjacency, seek index, node relation and edge
# arrays hold ~180 MiB of driver memory and the depth-6 closure ~16 MiB of
# Arrow buffers (README "Serving and the API"); sf1 (160,025 edges) is
# inside.
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
    """One view's typed edge table; the adjacency, the seek index
    (:func:`_seek_index`) and the edge arrays are derived on first use."""

    __slots__ = ("tbl", "src", "dst", "undirected", "seek", "arrays")

    def __init__(self, tbl: pa.Table) -> None:
        self.tbl, self.src, self.dst = tbl, tbl["src"].to_pylist(), tbl["dst"].to_pylist()
        self.undirected: dict[str, list[str]] | None = None
        self.seek: tuple | None = None
        self.arrays: tuple | None = None


class _Snapshot:
    """One (session, sf_dir) entry; the views and closures fill on first use."""

    __slots__ = ("n_edges", "views", "closures")

    def __init__(self, n_edges: int | None) -> None:
        self.n_edges, self.views, self.closures = n_edges, {}, {}


# frames


def expand_table(dist: dict[str, int]) -> pa.Table:
    """(node, hop) rows ordered by hop, then node."""
    rows = sorted(dist.items(), key=lambda kv: (kv[1], kv[0]))
    return pa.table(
        [pa.array([n for n, _ in rows], pa.string()), pa.array([h for _, h in rows], pa.int32())],
        schema=_EXPAND_SCHEMA,
    )


def rounded(spark: SparkSession, x: np.ndarray, digits: int = 6) -> np.ndarray:
    """``x`` with the Spark path's ``F.round(x, digits)`` digits:
    ``graph_kernels.half_up``, and the few values within ulps of a tie
    rounded by Spark over a local frame (no job)."""
    out, unsure = half_up(x, digits)
    if unsure.any():
        local = spark.createDataFrame(pa.table({"x": x[unsure]}))
        out[unsure] = [r[0] for r in local.select(F.round("x", digits)).collect()]
    return out


def frame(spark: SparkSession, cols: dict, non_null: tuple = ()) -> DataFrame:
    """A local frame of ``cols`` (name → array), every column nullable but
    ``non_null``, as the Spark path's schema has it."""
    arrays = [pa.array(v) for v in cols.values()]
    fields = [pa.field(k, a.type, k not in non_null) for k, a in zip(cols, arrays)]
    return spark.createDataFrame(pa.table(arrays, schema=pa.schema(fields)))


def closure_table(closure: DataFrame) -> pa.Table:
    """The UBO memo table of an (owner, entity, effective_ownership)
    frame: the Spark ``ubo_closure``'s form, which the tests hold
    :func:`ubo`'s kernel-built table to."""
    tbl = closure.select("owner", "entity", "effective_ownership").toArrow()
    return _ordered(closure.sparkSession, tbl.column(0), tbl.column(1), tbl.column(2).to_numpy())


def _ordered(spark: SparkSession, owner, entity, raw: np.ndarray) -> pa.Table:
    """Closure rows rounded like the Spark path's ``F.round(…, 6)`` and
    ordered like its ``orderBy``; the unrounded value rides along for the
    per-request threshold."""
    cols = {"owner": owner, "entity": entity, "effective_ownership": rounded(spark, raw), _RAW: raw}
    return pa.table(cols).sort_by(_UBO_ORDER)


def at_threshold(closure: pa.Table, threshold: float) -> pa.Table:
    """Rows whose unrounded ownership is ``>= threshold``, order kept."""
    keep = pc.greater_equal(closure[_RAW], pa.scalar(float(threshold), pa.float64()))
    return closure.filter(keep).drop_columns([_RAW])


# gated entry points (None = take the Spark path)


def _entry(spark: SparkSession, sf_dir: str) -> _Snapshot:
    """The memo entry, created with the hierarchy's footer edge count;
    call under _LOCK."""
    key = (_session_key(spark), sf_dir)
    snap = catalog._SNAPSHOT_CACHE.get(key)
    if snap is None:
        catalog.drop_stopped(catalog._SNAPSHOT_CACHE)
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


def arrays(spark: SparkSession, sf_dir: str, graph: str) -> tuple | None:
    """(sorted node ids, src indices, dst indices, typed edge table) of
    ``graph`` for the whole-graph kernels, or None over the gate, for an
    empty view or one with a null id."""
    with _LOCK:
        view = _view(spark, sf_dir, graph)
        if view is None:
            return None
        if view.arrays is None:
            tbl = view.tbl
            ok = tbl.num_rows and not (tbl["src"].null_count or tbl["dst"].null_count)
            view.arrays = (*index(tbl["src"], tbl["dst"]), tbl) if ok else ()
        return view.arrays or None


def neighborhood(spark: SparkSession, sf_dir: str, entities: list[str], hops: int) -> dict | None:
    """Min-hop distance ≤ ``hops`` from ``entities`` on the undirected
    hierarchy, or None above the gate."""
    with _LOCK:
        view = _view(spark, sf_dir, "hierarchy")
        if view is None:
            return None
        if view.undirected is None:
            view.undirected = adjacency(view.src, view.dst)
        adj = view.undirected
    return dict(bfs(adj, entities, hops))


def expand(spark: SparkSession, sf_dir: str, entities: list[str], hops: int) -> DataFrame | None:
    """``api.expand_neighborhood`` from the snapshot, or None above the gate."""
    dist = neighborhood(spark, sf_dir, entities, hops)
    return None if dist is None else spark.createDataFrame(expand_table(dist))


def ubo(spark: SparkSession, sf_dir: str, threshold: float, max_depth: int) -> DataFrame | None:
    """``api.ubo_report`` from the snapshot, or None above the gate: the
    closure of ``graph_kernels.walk_sum`` from the customer owners at
    threshold 0, built once per ``max_depth``."""
    with _LOCK:
        snap = _entry(spark, sf_dir)
        tbl = snap.closures.get(max_depth) if _within_gate(snap) else None
    if tbl is None:
        g = arrays(spark, sf_dir, "hierarchy")
        if g is None:
            return None
        nodes, src, dst, edges = g
        weight = edges["weight"].to_numpy()  # nulls → NaN
        owners = src[pc.equal(edges["rel_type"], "customer_of").to_numpy(zero_copy_only=False)]
        o, e, raw = walk_sum(len(nodes), src, dst, weight, owners, max_depth)
        keep = raw >= 0.0  # the Spark path's threshold-0 filter
        tbl = _ordered(spark, nodes.take(o[keep]), nodes.take(e[keep]), raw[keep])
        with _LOCK:
            tbl = snap.closures.setdefault(max_depth, tbl)
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

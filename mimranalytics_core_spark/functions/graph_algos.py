"""Reusable distributed graph algorithms over (src, dst[, weight]) DataFrames.

The library layer behind operators/graph.py: each algorithm is a composition
of joins/aggregates (DataFrame-Pregel where iterative — plans/pregel.py), so
it runs at cluster scale; the reference's NetworkX step
(reference README.md:28) is single-heap and is what these replace.

Semantics notes:
- ``ubo_closure``: effective ownership = Σ over directed walks ≤ max_depth of
  Π(edge weight) (reference README.md:13). On cyclic graphs the infinite sum
  is truncated by the depth bound — the same definition the recursive-CTE
  oracle uses (SURVEY.md §7.8.4), so engine and oracle agree by construction.
- The min-hop traversal family runs one frontier kernel, ``_bfs_levels``:
  a level-synchronous BFS from all sources at once with a single
  checkpoint and convergence policy. Its callers differ only in the
  columns they carry: ``bfs_distances`` (one pseudo-source for the seed
  set), ``multi_source_distances`` (none; ``closeness`` builds on it),
  ``multi_source_shortest_paths`` (min path), ``multi_source_sigma``
  (σ), ``multi_source_k_shortest_paths`` (σ and the k smallest paths)
  and ``betweenness`` (σ; its backward phase reuses the levels). Each
  level dedups on (source, node) (no walk enumeration blowup).
- The power-iteration family runs one superstep, ``_spmv`` (A·x as one
  join and one group-by), under one checkpoint policy (the note above
  ``pagerank``): ``pagerank`` (uniform or seeded teleport, optionally
  weight-proportional shares; one step per iteration plus the dangling
  mass), ``hits`` (two half-steps, each L1-normalized), ``eigenvector``
  (one step on the symmetrized graph, L2-normalized) and ``katz`` (one
  step, x ← 1 + alpha·A'x).
- The fixpoint family runs the Pregel harness,
  ``plans/pregel.iterate_fixpoint`` (folded-flag convergence):
  ``weighted_sssp`` (min-cost from a source, Bellman-Ford relaxation) and
  ``connected_components`` (min-label propagation).
"""

from __future__ import annotations

from functools import reduce

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mimranalytics_core_spark.plans.pregel import CHANGED_COL, iterate_fixpoint


def undirect(edges: DataFrame) -> DataFrame:
    """Symmetrize a directed edge list (columns src, dst preserved).

    Single evaluation of the input lineage (round-15): the union-of-two-
    selects form computed the (often expensive — LSH pair generation,
    windowed weight shares) upstream plan TWICE, once per branch. Exploding
    a per-row 2-element struct array emits both directions from one pass;
    the multiset of rows is identical.
    """
    both = F.explode(
        F.array(
            F.struct(F.col("src").alias("s"), F.col("dst").alias("d")),
            F.struct(F.col("dst").alias("s"), F.col("src").alias("d")),
        )
    ).alias("e")
    return edges.select(both).select(F.col("e.s").alias("src"), F.col("e.d").alias("dst"))


def ubo_closure(edges: DataFrame, max_depth: int = 6, threshold: float = 0.0) -> DataFrame:
    """Σ over walks ≤ max_depth of Π(weight): (owner, entity, effective_ownership).

    Iterative join-multiply-accumulate; each level is one shuffle on the
    frontier's entity key. Lineage checkpointed per level.
    """
    frontier = edges.select(
        F.col("src").alias("owner"), F.col("dst").alias("entity"), F.col("weight").alias("frac")
    )
    acc = frontier
    for _ in range(max_depth - 1):
        frontier = (
            frontier.join(edges, frontier.entity == edges.src)
            .select("owner", F.col("dst").alias("entity"), (F.col("frac") * F.col("weight")).alias("frac"))
            .localCheckpoint(eager=True)
        )
        if frontier.isEmpty():
            break
        acc = acc.unionByName(frontier)
    out = acc.groupBy("owner", "entity").agg(F.sum("frac").alias("effective_ownership"))
    return out.filter(F.col("effective_ownership") >= threshold)


def path_rows(
    edges: DataFrame,
    min_hops: int = 1,
    max_hops: int = 3,
    src_pred: str | None = None,
    unique_edges: bool = False,
    undirected: bool = False,
    keep_edges: bool = False,
    carry_cost: bool = False,
    keep_weights: bool = False,
) -> DataFrame:
    """Enumerate bounded directed paths as per-path rows
    (src, dst, hops, path_weight = Π edge weight
    [, path_cost = Σ edge weight with ``carry_cost``]
    [, path_weights = the ordered per-hop weight ARRAY with
    ``keep_weights`` — round-15, the `[r IN relationships(p) |
    r.weight]` comprehension surface; same row-local array append the
    edge-key path uses, no extra shuffle]).

    ``carry_cost`` adds the ADDITIVE accumulator (round-11 — weighted
    shortest-path/Dijkstra semantics read min over Σ, where the UBO
    closure reads Σ over Π): same joins, one extra row-local addition
    per hop, no extra shuffle.

    ``unique_edges=False``: **walk closure** — edges and nodes may repeat
    (the UBO/reach semantics). ``unique_edges=True``: **trail semantics** —
    no relationship is traversed twice along one path, exactly Cypher's
    ``*min..max`` uniqueness rule (Neo4j relationship isomorphism; nodes MAY
    still repeat). On DAG-shaped data the two coincide; on cyclic graphs
    walks strictly dominate trails.

    ``undirected=True`` traverses the symmetrized view of ``edges`` —
    Cypher's ``(a)-[:R]-(b)`` — while keeping each ORIGINAL directed edge as
    the relationship identity for the trail guard: one relationship may be
    used once per path, in either direction (Neo4j uniqueness; in
    particular a 2-hop a—b—a backtrack over one relationship is excluded,
    but distinct parallel relationships a→b and b→a are two hops).

    Edge identity for the uniqueness check is the (src, dst) pair — callers
    must pass a DISTINCT edge list (catalog edge views are); parallel typed
    edges between the same endpoints would be conflated.

    Plan: ``max_hops`` self-joins on the frontier's dst key (one hash
    shuffle each); the trail guard is a row-local array_contains on the
    accumulated edge-key array (≤ max_hops elements — negligible width for
    bounded patterns), so it adds NO shuffle. Symmetrization is a row-local
    union (2× the edge rows, no shuffle). Depth must stay bounded and
    the subgraph pre-filtered — path enumeration on an unbounded dense
    graph is O(paths) by definition (module scale note).
    """
    if not 1 <= min_hops <= max_hops:
        raise ValueError(f"need 1 <= min_hops <= max_hops, got {min_hops}..{max_hops}")
    # Edge identity for the trail guard: namespaced-string endpoints key as
    # 'src>dst' strings (the user-visible relationship key the path
    # functions replay); encoded-long endpoints (round-16 numeric Cypher
    # frames) key as a struct<src,dst> of the two longs — 16 fixed bytes
    # per key instead of a concatenated string, same uniqueness semantics.
    from pyspark.sql.types import LongType

    num_ids = isinstance(edges.schema["src"].dataType, LongType)

    def _mk_key(s: str, d: str):
        if num_ids:
            return F.struct(F.col(s).alias("src"), F.col(d).alias("dst"))
        return F.concat_ws(">", F.col(s), F.col(d))

    if undirected:
        # relationship identity = the original directed (src, dst) pair,
        # carried through both traversal directions
        ident = _mk_key("src", "dst").alias("__ek")
        d0 = edges.select("src", "dst", "weight", ident)
        e = d0.unionByName(
            d0.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "weight", "__ek"
            )
        )
        ekey = F.col("__ek")
    else:
        e = edges.select("src", "dst", "weight")
        ekey = _mk_key("src", "dst")
    frontier = e.select(
        "src", "dst", F.lit(1).alias("hops"), F.col("weight").alias("path_weight"),
        F.col("weight").alias("path_cost"),
        F.array(ekey).alias("__epath"),
        *([F.array(F.col("weight")).alias("__wpath")] if keep_weights else []),
    )
    if src_pred is not None:
        frontier = frontier.filter(F.expr(src_pred))
    nxt = e.select(
        F.col("src").alias("__m"),
        F.col("dst").alias("__d"),
        F.col("weight").alias("__w"),
        *([F.col("__ek").alias("__sk")] if undirected else []),
    )
    step_key = F.col("__sk") if undirected else _mk_key("__m", "__d")
    levels = [frontier]
    for _ in range(max_hops - 1):
        step = frontier.join(nxt, frontier.dst == F.col("__m"))
        if unique_edges:
            step = step.filter(~F.array_contains(F.col("__epath"), step_key))
        frontier = step.select(
            "src",
            F.col("__d").alias("dst"),
            (F.col("hops") + 1).alias("hops"),
            (F.col("path_weight") * F.col("__w")).alias("path_weight"),
            (F.col("path_cost") + F.col("__w")).alias("path_cost"),
            F.concat(F.col("__epath"), F.array(step_key)).alias("__epath"),
            *(
                [F.concat(F.col("__wpath"), F.array(F.col("__w"))).alias("__wpath")]
                if keep_weights
                else []
            ),
        )
        levels.append(frontier)
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    cols = ["src", "dst", "hops", "path_weight"]
    if carry_cost:
        cols.append("path_cost")
    if keep_weights:
        cols.append(F.col("__wpath").alias("path_weights"))
    if keep_edges:
        # expose the accumulated edge-key array (``__edges``) so callers can
        # enforce relationship uniqueness ACROSS pattern segments (Cypher:
        # one path per MATCH clause, no relationship repeats anywhere in it)
        cols.append(F.col("__epath").alias("__edges"))
    return out.filter(F.col("hops") >= min_hops).select(*cols)


def _keep(df: DataFrame, state_partitions: int | None = None, eager: bool = True) -> DataFrame:
    """Checkpoint ``df`` after coalescing it to ``state_partitions``: eager
    for set-up frames that many jobs read, lazy for per-superstep state,
    which the next superstep's job materializes (see the policy note above
    :func:`pagerank`)."""
    if state_partitions is not None:
        df = df.coalesce(state_partitions)
    return df.localCheckpoint(eager=eager)


def _bfs_levels(
    edges: DataFrame,
    seeds: DataFrame,
    source: Column,
    max_depth: int,
    carry: tuple = (),
    state_partitions: int | None = None,
) -> tuple[DataFrame, list[DataFrame]]:
    """Level-synchronous BFS from many sources at once: the one frontier
    loop behind the traversal family (Pregelix-style — each level is an
    ordinary join/anti-join/group-by plan; callers differ only in the
    columns they carry and how those combine).

    Each distinct ``node`` of ``seeds`` starts at dist 0 under the source
    value ``source`` (an expression over that node): ``F.col("node")`` gives
    one BFS per seed, a literal one BFS from the whole set. Deduplicating
    the seeds on ``node`` keeps the partitioning of an already-distinct
    seed frame, which the first level's join then reuses. ``carry``: one
    (name, init, extend, combine) per carried column — ``init`` is its
    value at a seed, ``extend`` maps a frontier row joined to its out-edge
    (``src``, ``dst``) to the value offered to ``dst``, ``combine``
    aggregates the offers that reach a new (source, node) in one level.
    With no carry, offers are combined by ``distinct()`` before the
    anti-join.

    Policy: the edges are checkpointed once (every level joins them); each
    level, level 0 included, is checkpointed eagerly (it is read by the next
    level's join, every later anti-join and the caller's union) and the loop
    stops at the first empty level — per level one checkpoint job plus one
    ``isEmpty``. ``state_partitions`` coalesces the edges and every level.
    Returns the checkpointed edges and the non-empty levels, level ``i``
    holding (source, node, dist = i, *carry) for the nodes first reached at
    hop ``i``."""

    names = [c[0] for c in carry]
    edges = _keep(edges.select("src", "dst"), state_partitions)
    frontier = _keep(
        seeds.select("node").distinct().select(
            source.alias("source"),
            "node",
            F.lit(0).alias("dist"),
            *(init.alias(n) for n, init, _, _ in carry),
        ),
        state_partitions,
    )
    levels = [frontier]
    seen = frontier.select("source", "node")
    for level in range(1, max_depth + 1):
        offers = frontier.join(edges, frontier.node == edges.src).select(
            "source", F.col("dst").alias("node"), *(ext.alias(n) for n, _, ext, _ in carry)
        )
        if carry:
            nxt = (
                offers.join(seen, ["source", "node"], "left_anti")
                .groupBy("source", "node")
                .agg(*(comb.alias(n) for n, _, _, comb in carry))
            )
        else:
            nxt = offers.distinct().join(seen, ["source", "node"], "left_anti")
        nxt = _keep(
            nxt.select("source", "node", F.lit(level).alias("dist"), *names), state_partitions
        )
        if nxt.isEmpty():
            break
        levels.append(nxt)
        seen = seen.unionByName(nxt.select("source", "node"))
        frontier = nxt
    return edges, levels


def _union(levels: list[DataFrame]) -> DataFrame:
    return reduce(DataFrame.unionByName, levels)


def _sigma(one: Column) -> tuple:
    """σ carry, ``one`` at a seed: a node's shortest-path count is the sum
    of its predecessors' counts."""
    return ("sigma", one, F.col("sigma"), F.sum("sigma"))


def bfs_distances(edges: DataFrame, seeds: DataFrame, max_depth: int = 10) -> DataFrame:
    """Min-hop distance from a seed set: (node, dist). ``seeds``: (node).
    One BFS from the whole set, under a single pseudo-source."""
    _, levels = _bfs_levels(edges, seeds, F.lit(0), max_depth)
    return _union(levels).select("node", "dist")


def multi_source_distances(
    edges: DataFrame, sources: DataFrame, max_depth: int = 8
) -> DataFrame:
    """Per-source min-hop distances: (source, node, dist), nodes reachable
    within ``max_depth``. Level-synchronous for ALL sources at once — one
    join + anti-join per level regardless of |sources|; the forward half of
    the Brandes machinery without σ bookkeeping."""
    _, levels = _bfs_levels(edges, sources, F.col("node"), max_depth)
    return _union(levels)


def multi_source_shortest_paths(
    edges: DataFrame, sources: DataFrame, max_depth: int = 8
) -> DataFrame:
    """Per-source min-hop distances WITH one reconstructed shortest path
    per (source, node): (source, node, dist, path) where ``path`` is the
    node-id array [source, …, node] (round-13, r12 VERDICT #3 — nodes(p)/
    relationships(p) on shortestPath patterns need the actual chain, not
    just the distance). Same level-synchronous multi-source BFS as
    :func:`multi_source_distances`; the ONLY additions are an O(depth)
    array column riding each frontier row and a deterministic min() pick
    when several shortest paths reach a node in the same level (arrays are
    orderable in Spark — lexicographic, so reruns agree; Neo4j returns an
    arbitrary one). Still never enumerates the path SET — one candidate
    per predecessor row per level, collapsed immediately; supersteps =
    ``max_depth`` at any |V| or |sources|."""
    path = ("path", F.array("node"), F.array_append("path", F.col("dst")), F.min("path"))
    _, levels = _bfs_levels(edges, sources, F.col("node"), max_depth, (path,))
    return _union(levels)


def multi_source_k_shortest_paths(
    edges: DataFrame, sources: DataFrame, max_depth: int = 8, k: int = 3
) -> DataFrame:
    """Per-source min-hop distances with the TRUE shortest-path count σ
    AND up to ``k`` enumerated shortest paths per (source, node) —
    (source, node, dist, sigma, paths) where ``paths`` is an array of
    '|'-joined node-id strings, the k lexicographically-smallest shortest
    paths (round-14, r13 VERDICT 'missing' #6: allShortestPaths kept σ
    without enumeration; this is the bounded-K enumeration variant).

    Same level-synchronous multi-source BFS; each frontier row carries at
    most k candidate path strings, extended with one transform() lambda
    per level and re-capped per (source, node) with
    slice(array_sort(flatten(collect_list())), 1, k). The cap is EXACT,
    not approximate: top-k distributes over union, and within one
    (source, node, dist) group no path string is a strict prefix of
    another (equal element counts, same terminal id), so appending a
    common suffix preserves string order — the k kept prefixes at every
    predecessor are exactly the prefixes the k smallest full paths need.
    σ rides separately as the exact Brandes sum, so the bound is visible:
    sigma > size(paths) means paths were capped.

    Scale: supersteps = ``max_depth`` at any |V| or |sources|; row width
    is O(k · depth) id strings — never the path-set explosion that makes
    unbounded allShortestPaths the 100 TB anti-pattern."""
    paths = (
        "paths",
        F.array("node"),
        F.expr("transform(paths, p -> concat(p, '|', dst))"),
        F.slice(F.array_sort(F.flatten(F.collect_list("paths"))), 1, k),
    )
    carry = (_sigma(F.lit(1).cast("long")), paths)
    _, levels = _bfs_levels(edges, sources, F.col("node"), max_depth, carry)
    return _union(levels)


def multi_source_sigma(
    edges: DataFrame, sources: DataFrame, max_depth: int = 8
) -> DataFrame:
    """Per-source shortest-path COUNTS: (source, node, dist, sigma) — the
    forward half of the Brandes machinery (level-synchronous BFS summing σ
    over predecessors) exposed standalone for allShortestPaths(): σ(s, v) =
    number of distinct min-hop paths s→v, computed WITHOUT enumerating
    paths (one join + σ-summing aggregate per level for all sources at
    once; supersteps = ``max_depth`` at any |V| or |sources|)."""
    sigma = _sigma(F.lit(1).cast("long"))
    _, levels = _bfs_levels(edges, sources, F.col("node"), max_depth, (sigma,))
    return _union(levels)


def closeness(edges: DataFrame, sources: DataFrame, max_depth: int = 8) -> DataFrame:
    """Closeness centrality for each source: (node, closeness).

    C(s) = |reached| / Σ_t dist(s, t) over nodes reachable within
    ``max_depth`` (excluding s) — the standard per-component closeness when
    the depth bound covers the component diameter. Rounded via
    floor(x·1e6+0.5)/1e6, the engine's cross-engine HALF_UP discipline
    (same formula as the DuckDB oracle — plain ROUND differs in ulp-edge
    cases)."""
    d = multi_source_distances(edges, sources, max_depth=max_depth)
    return (
        d.filter(F.col("node") != F.col("source"))
        .groupBy(F.col("source").alias("node"))
        .agg(
            (
                F.floor((F.count(F.lit(1)) / F.sum("dist")) * 1e6 + F.lit(0.5)) / 1e6
            ).alias("closeness")
        )
    )


def weighted_sssp(edges: DataFrame, source: str, max_iter: int = 20) -> DataFrame:
    """Min-cost (sum of weights) from ``source``: (node, cost). Bellman-Ford
    style relaxation to fixpoint over the distributed edge list."""
    edges = edges.select("src", "dst", "weight").localCheckpoint(eager=True)
    state = edges.sparkSession.createDataFrame([(source, 0.0)], "node STRING, cost DOUBLE")

    def step(costs):
        # folded flag: the node's own carry-over row is tagged, so the
        # relaxation aggregate also yields the old cost — changed =
        # improved OR newly reached (no self row → __old null)
        relaxed = (
            costs.join(edges, costs.node == edges.src)
            .select(F.col("dst").alias("node"), (F.col("cost") + F.col("weight")).alias("cost"))
        )
        mine = costs.select("node", "cost", F.lit(True).alias("__self"))
        new = (
            mine.unionByName(relaxed.withColumn("__self", F.lit(False)))
            .groupBy("node")
            .agg(
                F.min("cost").alias("cost"),
                F.min(F.when(F.col("__self"), F.col("cost"))).alias("__old"),
            )
        )
        return new.select(
            "node",
            "cost",
            F.coalesce(F.col("cost") < F.col("__old"), F.lit(True)).alias(CHANGED_COL),
        )

    return iterate_fixpoint(state, step, max_iter=max_iter)


def connected_components(
    edges: DataFrame,
    max_iter: int = 20,
    state_partitions: int | None = None,
    check_convergence: bool = True,
) -> DataFrame:
    """Undirected components via min-label propagation: (node, component).

    ``check_convergence=False`` runs exactly ``max_iter`` supersteps with no
    old-vs-new comparison jobs — use when ``max_iter`` IS the declared
    semantics (depth-bounded closure: k rounds = min over ≤k-hop
    reachability) or when the caller knows the diameter bound.

    With ``check_convergence=True`` the fixpoint test uses pregel.py's
    folded-flag protocol: the union feeding the min-aggregate tags each node's own carry-over row,
    so the aggregate emits both the new label and the old one, and
    ``__changed`` = new < old costs nothing beyond the agg the superstep
    already runs. Convergence is then a filter scan on the materialized
    checkpoint — no extra join, no extra shuffle. Labels are unchanged: the
    same min over {old label} ∪ {incoming labels}.
    """
    # Materialize the symmetrized edge list once: every superstep joins
    # against it, and the upstream edge derivation (windowed weight shares,
    # unions) would otherwise be recomputed per iteration.
    und = _keep(undirect(edges), state_partitions)
    state = und.select(F.col("src").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )

    def step(labels):
        prop = und.join(labels, und.src == labels.node).select(
            F.col("dst").alias("node"), "component"
        )
        if not check_convergence:
            return (
                labels.select("node", "component")
                .unionByName(prop)
                .groupBy("node")
                .agg(F.min("component").alias("component"))
            )
        # folded flag: tag the node's own carry-over row so the SAME
        # aggregate yields old (min over self rows — exactly one per node)
        # and new (min over all rows); changed = new < old
        mine = labels.select("node", "component", F.lit(True).alias("__self"))
        new = (
            mine.unionByName(prop.withColumn("__self", F.lit(False)))
            .groupBy("node")
            .agg(
                F.min("component").alias("component"),
                F.min(F.when(F.col("__self"), F.col("component"))).alias("__old"),
            )
        )
        return new.select(
            "node",
            "component",
            (F.col("component") < F.col("__old")).alias(CHANGED_COL),
        )

    return iterate_fixpoint(state, step, max_iter=max_iter, state_partitions=state_partitions)


# Checkpoint policy of the power family (pagerank, hits, eigenvector, katz)
# and of plans/pregel.iterate_fixpoint: frames computed once (edges, shares,
# nodes, dangling set) are checkpointed EAGERLY — many jobs read them,
# including a driver-side count() or emptiness check. The start vector is a
# projection of the node frame, not checkpointed. Per-superstep state is
# checkpointed LAZILY (round-16): eager forced one driver-blocking job per
# superstep; a lazy localCheckpoint materializes on first use inside the
# consuming job with identical lineage truncation and reuse (the pagerank
# dangling-mass branch still reads the persisted partitions, never
# recomputes the superstep). Interleaved A/B, min-of-reps:
# graph_pagerank_weighted 2.98 -> 2.79 s at sf0.1 and 8.86 -> 7.71 s on the
# 10x replica; graph_pagerank 7.55 -> 6.59 at sf1.
def _spmv(
    edges: DataFrame, x: DataFrame, src: str, dst: str, share: str | None = None
) -> DataFrame:
    """One power-iteration superstep, A·x as a join and a group-by:
    (node, inflow), inflow = Σ x.v · ``share`` over the ``edges`` whose
    ``dst`` column is the node, each joined to ``x`` (node, v) on its
    ``src`` column. A node no edge reaches has no row."""
    v = F.col("v") if share is None else F.col("v") * F.col(share)
    return (
        edges.join(x, F.col(src) == x.node)
        .groupBy(F.col(dst).alias("node"))
        .agg(F.sum(v).alias("inflow"))
    )


def _nodes(edges: DataFrame) -> DataFrame:
    """The distinct endpoints of ``edges``: (node)."""
    return (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )


def pagerank(
    edges: DataFrame,
    iters: int = 10,
    damping: float = 0.85,
    state_partitions: int | None = None,
    weight_col: str | None = None,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """Damped PageRank, fixed iterations: (node, rank). Dangling mass is
    redistributed with the teleport, inside the plan (no driver
    round-trips).

    ``seeds`` (node): personalized PageRank — "influence of THIS entity
    set" (reference README.md:13 'highlight'). The teleport is restricted
    to the seeds: tele(v) = 1/|S| on a seed, else 0; rank₀ = tele;
    rankₖ₊₁(v) = (1-d)·tele(v) + d·(inflowₖ(v) + dmₖ·tele(v)), so the
    dangling mass returns to the seed set. No seed: every node ranks 0.
    None: the uniform teleport, rank₀ = 1/n and
    rankₖ₊₁(v) = (1-d)/n + d·(inflowₖ(v) + dmₖ/n). Each variant keeps its
    own float expression, which the oracles hash at 6 dp.

    ``weight_col``: edge-weighted variant — each source splits its rank
    proportionally to the (positive) edge weights instead of uniformly
    (share = w / Σw per src). Zero-weight edges carry no mass and are
    dropped before the share computation; a source whose edges ALL have
    zero weight therefore becomes dangling, which is exactly the
    "no outgoing mass" semantics.

    Per-iteration cost: one :func:`_spmv` superstep (pre-joined edge
    shares × ranks), plus one left_semi join of the checkpointed rank
    vector against the once-computed dangling node set to get that
    iteration's dangling mass (a scan+agg, not a per-iteration anti-join).
    The scalar mass is then broadcast into the rank update.
    """
    e = edges.select("src", "dst") if weight_col is None else edges.select(
        "src", "dst", F.col(weight_col).alias("w")
    )
    nodes = _nodes(e)
    d = float(damping)
    if seeds is None:
        nodes = _keep(nodes)
        n = nodes.count()
        if n == 0:  # empty graph: no nodes to rank (avoid 1/0 below)
            return nodes.withColumn("rank", F.lit(0.0))
        ranks = nodes.withColumn("rank", F.lit(1.0 / n))
        teleport, back = F.lit((1 - d) / n), F.col("dm") / F.lit(float(n))
    else:
        s = seeds.select("node").distinct()
        ns = s.count()
        if ns == 0:
            return nodes.withColumn("rank", F.lit(0.0))
        nodes = _keep(
            nodes.join(s.withColumn("__seed", F.lit(1)), "node", "left").select(
                "node",
                F.when(F.col("__seed").isNotNull(), F.lit(1.0) / F.lit(float(ns)))
                .otherwise(F.lit(0.0))
                .alias("tele"),
            )
        )
        ranks = nodes.select("node", F.col("tele").alias("rank"))
        teleport, back = F.lit(1 - d) * F.col("tele"), F.col("dm") * F.col("tele")
    if weight_col is None:
        out_deg = e.groupBy("src").agg(F.count("*").alias("out_deg"))
        shares = e.join(out_deg, "src").select(
            "src", "dst", (F.lit(1.0) / F.col("out_deg")).alias("share")
        )
    else:
        pos = e.filter(F.col("w") > 0)
        out_deg = pos.groupBy("src").agg(F.sum("w").alias("wsum"))
        shares = pos.join(out_deg, "src").select(
            "src", "dst", (F.col("w") / F.col("wsum")).alias("share")
        )
    shares = _keep(shares, state_partitions)
    dangling = nodes.join(out_deg, nodes.node == out_deg.src, "left_anti").select("node")
    dangling = _keep(dangling, 1)
    for _ in range(iters):
        x = ranks.select("node", F.col("rank").alias("v"))
        contribs = _spmv(shares, x, "src", "dst", "share")
        dm = ranks.join(dangling, "node", "left_semi").agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm")
        )
        ranks = nodes.join(contribs, "node", "left").crossJoin(F.broadcast(dm)).select(
            "node",
            (teleport + F.lit(d) * (F.coalesce(F.col("inflow"), F.lit(0.0)) + back)).alias("rank"),
        )
        # Checkpoint EVERY iteration: the next iteration's dangling-mass
        # aggregate re-reads ``ranks``; un-checkpointed, that branch would
        # recompute the whole previous superstep (join+agg) a second time.
        ranks = _keep(ranks, state_partitions, eager=False)
    return ranks


def kcore(edges: DataFrame, k: int = 2, max_iter: int = 12) -> DataFrame:
    """k-core of the undirected graph: (node, core_deg) — the maximal
    subgraph where every node keeps degree ≥ k, plus each survivor's
    in-core degree. Standard iterative peel: drop nodes with degree < k,
    recompute degrees on the induced subgraph, repeat to fixpoint (bounded
    by ``max_iter``; peeling is monotone, so an early fixpoint equals any
    longer unrolling — the DuckDB oracle unrolls exactly ``max_iter``
    rounds).

    Scale: each round is one induced-edge semi-join pair + one partial-agg
    degree count on the (shrinking) alive set; the symmetrized edge list is
    checkpointed once. Rounds ≤ max_iter regardless of |V|; at 100 TB the
    edge list would be bucketed on src so the semi-joins co-locate.
    """
    sym = undirect(edges).distinct().localCheckpoint(eager=True)
    alive = sym.select(F.col("src").alias("node")).distinct().localCheckpoint(eager=True)
    prev_n = alive.count()
    for _ in range(max_iter):
        if prev_n == 0:
            break
        e = sym.join(
            alive.withColumnRenamed("node", "src"), "src", "left_semi"
        ).join(alive.withColumnRenamed("node", "dst"), "dst", "left_semi")
        deg = e.groupBy(F.col("src").alias("node")).agg(F.count("*").alias("deg"))
        alive = deg.filter(F.col("deg") >= k).select("node").localCheckpoint(eager=True)
        n = alive.count()
        if n == prev_n:
            break  # fixpoint — further peels are identity
        prev_n = n
    final = sym.join(
        alive.withColumnRenamed("node", "src"), "src", "left_semi"
    ).join(alive.withColumnRenamed("node", "dst"), "dst", "left_semi")
    return final.groupBy(F.col("src").alias("node")).agg(
        F.count("*").alias("core_deg")
    )


def betweenness(
    edges: DataFrame,
    sources: DataFrame,
    max_depth: int = 8,
    state_partitions: int | None = None,
    edge_scores: bool = False,
) -> DataFrame:
    """Brandes betweenness centrality from a source sample: (node, betweenness).

    ``edges`` must already be symmetrized (undirect()) for undirected
    semantics; ``sources``: (node). Exact for the given sources; sampling
    sources is the standard estimator at scale (full Brandes is O(V·E)).

    Forward phase: level-synchronous BFS carrying σ (shortest-path counts)
    for ALL sources at once — state is (source, node, dist, sigma), one
    shuffle per level. Backward phase: dependency accumulation
    δ(v) += σ(v)/σ(w)·(1+δ(w)) processed by descending level, again one
    join/agg per level. Total supersteps ≤ 2·diameter regardless of |V|.

    ``edge_scores=True`` returns EDGE betweenness instead — (src, dst,
    edge_betweenness) over canonical undirected pairs: the per-(v, w)
    backward-phase contribution σ_v/σ_w·(1+δ_w) IS Brandes' edge
    dependency, so the variant only re-keys the same terms before the
    final sum (Girvan–Newman's scoring phase; the node recursion is
    unchanged and bit-identical).
    """
    spark_f = F
    # the forward phase's checkpointed edges and levels feed the backward
    # phase, which joins them once per level
    sigma = _sigma(spark_f.lit(1.0))
    edges, levels = _bfs_levels(
        edges, sources, spark_f.col("node"), max_depth, (sigma,), state_partitions
    )
    # backward accumulation, deepest level first; columns renamed per role to
    # avoid self-join ambiguity (levels share lineage)
    delta = None  # (source, node, delta) for processed levels
    edelta = None  # (ea, eb, c) edge-dependency terms when edge_scores
    for lev in range(len(levels) - 1, 0, -1):
        w_nodes = levels[lev].select(
            spark_f.col("source").alias("wsource"),
            spark_f.col("node").alias("w"),
            spark_f.col("sigma").alias("sigma_w"),
        )
        if delta is not None:
            d = delta.select(
                spark_f.col("source").alias("dsource"),
                spark_f.col("node").alias("dnode"),
                spark_f.col("delta").alias("dval"),
            )
            w_nodes = (
                w_nodes.join(
                    d,
                    (w_nodes.wsource == d.dsource) & (w_nodes.w == d.dnode),
                    "left",
                )
                .select(
                    "wsource",
                    "w",
                    "sigma_w",
                    spark_f.coalesce("dval", spark_f.lit(0.0)).alias("delta_w"),
                )
            )
        else:
            w_nodes = w_nodes.withColumn("delta_w", spark_f.lit(0.0))
        preds = levels[lev - 1].select(
            spark_f.col("source").alias("psource"),
            spark_f.col("node").alias("v"),
            spark_f.col("sigma").alias("sigma_v"),
        )
        terms = (
            edges.join(w_nodes, edges.dst == w_nodes.w)
            .join(
                preds,
                (spark_f.col("v") == edges.src)
                & (spark_f.col("psource") == spark_f.col("wsource")),
            )
            .select(
                spark_f.col("psource").alias("source"),
                spark_f.col("v").alias("node"),
                spark_f.col("w"),
                (
                    spark_f.col("sigma_v") / spark_f.col("sigma_w") * (1.0 + spark_f.col("delta_w"))
                ).alias("c"),
            )
        )
        if edge_scores:
            e_part = terms.select(
                spark_f.least("node", "w").alias("ea"),
                spark_f.greatest("node", "w").alias("eb"),
                "c",
            )
            edelta = e_part if edelta is None else edelta.unionByName(e_part)
        contrib = _keep(
            terms.groupBy("source", "node").agg(spark_f.sum("c").alias("delta")), state_partitions
        )
        delta = contrib if delta is None else delta.unionByName(contrib)
    if edge_scores:
        if edelta is None:
            return edges.select(
                spark_f.least("src", "dst").alias("src"),
                spark_f.greatest("src", "dst").alias("dst"),
            ).distinct().withColumn("edge_betweenness", spark_f.lit(0.0))
        return (
            edelta.groupBy(
                spark_f.col("ea").alias("src"), spark_f.col("eb").alias("dst")
            )
            .agg(
                (
                    spark_f.floor(spark_f.sum("c") * 1e6 + spark_f.lit(0.5)) / 1e6
                ).alias("edge_betweenness")
            )
        )
    if delta is None:
        return levels[0].select("node").withColumn("betweenness", spark_f.lit(0.0))
    return (
        delta.filter(spark_f.col("node") != spark_f.col("source"))
        .groupBy("node")
        .agg(
            # floor(x·1e6+0.5)/1e6, not F.round: the engine's HALF_UP
            # discipline, digit-for-digit with the DuckDB oracle's
            # FLOOR(bw*1e6+0.5)/1e6 (F.round HALF_UPs the DECIMAL rendering,
            # which can differ at the ulp — see closeness() above)
            (
                spark_f.floor(spark_f.sum("delta") * 1e6 + spark_f.lit(0.5)) / 1e6
            ).alias("betweenness")
        )
    )


def hits(edges: DataFrame, iters: int = 10, state_partitions: int | None = None) -> DataFrame:
    """HITS hub/authority scores, fixed iterations: (node, hub, authority).

    Kleinberg 1999 (public). Per iteration two :func:`_spmv` half-steps:
    authority(v) = Σ_{u→v} hub(u), then hub(u) = Σ_{u→v} authority(v), each
    L1-normalized by a broadcast scalar folded into the plan (the pagerank
    dangling-mass pattern — no driver round-trips). The vectors stay
    sparse through all 2·iters half-steps: a node with no row has score
    exactly 0, which adds nothing to the next sums or to the normalizer,
    so the fill to every node is one pair of joins at the end."""
    e = _keep(edges.select("src", "dst").distinct())
    nodes = _keep(_nodes(e))
    if nodes.isEmpty():
        return nodes.withColumn("hub", F.lit(0.0)).withColumn("authority", F.lit(0.0))
    h = a = nodes.withColumn("v", F.lit(1.0))

    def half(x: DataFrame, src: str, dst: str) -> DataFrame:
        raw = _spmv(e, x, src, dst)
        tot = raw.agg(F.sum("inflow").alias("tot"))
        out = raw.crossJoin(F.broadcast(tot)).select(
            "node", (F.col("inflow") / F.col("tot")).alias("v")
        )
        return _keep(out, state_partitions, eager=False)

    for _ in range(iters):
        a = half(h, "src", "dst")  # authority from hubs over in-edges
        h = half(a, "dst", "src")  # hub from authorities over out-edges
    return (
        nodes.join(h.select(F.col("node").alias("hn"), F.col("v").alias("hub")),
                   nodes.node == F.col("hn"), "left")
        .join(a.select(F.col("node").alias("an"), F.col("v").alias("authority")),
              nodes.node == F.col("an"), "left")
        .select(
            "node",
            F.coalesce("hub", F.lit(0.0)).alias("hub"),
            F.coalesce("authority", F.lit(0.0)).alias("authority"),
        )
    )


def eigenvector(
    edges: DataFrame, iters: int = 12, state_partitions: int | None = None
) -> DataFrame:
    """Eigenvector centrality, fixed-iteration power method: (node, eig).

    NetworkX-style semantics on the UNDIRECTED graph (symmetrized
    adjacency — the principal eigenvector exists and the power method
    converges; on the raw DAG the adjacency is nilpotent and the limit
    would be the zero vector). Per iteration one :func:`_spmv` step
    x ← A·x, then L2-normalize by a broadcast scalar folded into the plan
    (the HITS normalizer pattern — no driver round-trip). The adjacency is
    symmetrized, so every node has an in-edge and A·x has a row per node:
    no fill join."""
    e = _keep(undirect(edges.select("src", "dst")).distinct())
    nodes = _keep(e.select(F.col("src").alias("node")).distinct())
    if nodes.isEmpty():
        return nodes.withColumn("eig", F.lit(0.0))
    x = nodes.withColumn("v", F.lit(1.0))
    for _ in range(iters):
        raw = _spmv(e, x, "src", "dst")
        nrm = raw.agg(F.sqrt(F.sum(F.col("inflow") * F.col("inflow"))).alias("nrm"))
        x = raw.crossJoin(F.broadcast(nrm)).select(
            "node",
            F.when(F.col("nrm") > 0, F.col("inflow") / F.col("nrm"))
            .otherwise(F.lit(0.0))
            .alias("v"),
        )
        x = _keep(x, state_partitions, eager=False)
    return x.select("node", F.col("v").alias("eig"))


def katz(edges: DataFrame, iters: int = 4, alpha: float = 0.1) -> DataFrame:
    """Truncated Katz centrality: (node, katz), x₀ = 1 and
    xₖ₊₁(v) = 1 + alpha·Σ_{u→v} xₖ(u) (parallel edges count once each), one
    :func:`_spmv` step per iteration — after ``iters`` steps, Σ over
    k ≤ iters of alphaᵏ·|walks of length k ending at v|."""
    e = _keep(edges.select("src", "dst"))
    nodes = _keep(_nodes(e))
    x = nodes.withColumn("v", F.lit(1.0))
    for _ in range(iters):
        x = nodes.join(_spmv(e, x, "src", "dst"), "node", "left").select(
            "node", (F.lit(1.0) + F.lit(alpha) * F.coalesce("inflow", F.lit(0.0))).alias("v")
        )
        x = _keep(x, eager=False)
    return x.select("node", F.col("v").alias("katz"))


def _pin(df: DataFrame, pinned: list) -> DataFrame:
    """Checkpoint + cache + materialize an iteration-state DataFrame.

    ``localCheckpoint`` truncates lineage but PRESERVES Catalyst's
    estimated sizeInBytes — and the size-only stats visitor multiplies
    join children's estimates, so nested iterative self-joins (pointer
    doubling: root ⋈ root per jump) double the estimate's DIGIT COUNT
    every iteration until the BigInteger arithmetic itself OOMs the
    driver. Persisting the checkpointed frame and forcing materialization
    makes downstream plans substitute the InMemoryRelation, whose stats
    are the ACTUAL cached bytes — honest, bounded, and better for join
    planning than any estimate. Callers unpersist everything in
    ``pinned`` when done; the checkpointed RDD stays valid after
    unpersist, so returned plans can still recompute."""
    out = df.localCheckpoint(eager=True).persist(StorageLevel.MEMORY_AND_DISK)
    out.count()
    pinned.append(out)
    return out


def _warn_budget(name: str, rounds: int, leftover: DataFrame, what: str) -> None:
    """Warn when a fixed round budget ran out before convergence.

    The greedy algorithms below promise MAXIMALITY (maximal independent
    set / matching, complete coloring, spanning forest) — a result cut
    short by the round budget silently breaks that promise (r8 ADVICE,
    medium): the registered ops size their budgets, but these are general
    library functions. One cheap isEmpty() on the already-pinned leftover
    state per call; callers who want partial results can catch/filter the
    RuntimeWarning."""
    import warnings

    if not leftover.isEmpty():
        warnings.warn(
            f"{name}: round budget ({rounds}) exhausted with {what} remaining "
            f"— the result is PARTIAL (not maximal/complete). Raise `rounds`; "
            f"convergence needs the graph's longest dependency chain.",
            RuntimeWarning,
            stacklevel=3,
        )


def boruvka_msf(
    edges: DataFrame,
    rounds: int = 10,
    jumps: int = 16,
    state_partitions: int | None = None,
) -> DataFrame:
    """Minimum spanning forest by Borůvka contraction: (a, b, w) edges.

    ``edges``: undirected weighted edges as (a, b, w) with a < b (one row
    per pair; parallel edges are pre-reduced to their min weight here).
    The total order (w, a, b) breaks ties, which makes the MSF unique and
    every step deterministic — the classic distinct-weights argument.

    Per round (components at least halve, so ``rounds`` ≥ log2(n) rounds
    finish; early-exits when no cross-component edge remains):
      1. each component picks its minimum incident cross-component edge
         (argmin by (w, a, b) — one row_number per side),
      2. the union of chosen edges joins the forest,
      3. components contract along chosen edges: the pointer graph has
         exactly one mutual 2-cycle per pseudo-tree (distinct weights);
         the smaller endpoint becomes the root and pointer doubling
         (r[c] ← r[r[c]], early-exit on fixpoint, ≤ ``jumps`` rounds so
         chains up to 2^jumps contract) relabels every component. The
        fixpoint check matters for correctness: a partially-contracted
        labeling would re-admit intra-tree edges in a later round.

    Scale: every step is a join or partial agg keyed on node/component
    ids — the only driver-side state is the per-round empty-check and
    per-jump fixpoint-check scalars; state is pinned per round (see
    ``_pin``) to cut lineage AND stop Catalyst stats estimates from
    compounding across the nested self-joins. This is the textbook MSF
    algorithm for bulk-synchronous engines (log-round Borůvka)."""
    from pyspark.sql import Window

    pinned: list = []
    e = _pin(
        edges.select("a", "b", "w").groupBy("a", "b").agg(F.min("w").alias("w")),
        pinned,
    )
    nodes = (
        e.select(F.col("a").alias("node"))
        .unionByName(e.select(F.col("b").alias("node")))
        .distinct()
    )
    comp = _pin(nodes.select("node", F.col("node").alias("comp")), pinned)
    msf = None
    try:
        for _ in range(rounds):
            ca = comp.select(F.col("node").alias("a"), F.col("comp").alias("ca"))
            cb = comp.select(F.col("node").alias("b"), F.col("comp").alias("cb"))
            ec = e.join(ca, "a").join(cb, "b").filter(F.col("ca") != F.col("cb"))
            if ec.isEmpty():
                break
            cand = ec.select(
                F.col("ca").alias("c"), "w", "a", "b", F.col("cb").alias("oc")
            ).unionByName(
                ec.select(
                    F.col("cb").alias("c"), "w", "a", "b", F.col("ca").alias("oc")
                )
            )
            win = Window.partitionBy("c").orderBy("w", "a", "b")
            chosen = _pin(
                cand.withColumn("rn", F.row_number().over(win))
                .filter(F.col("rn") == 1)
                .drop("rn"),
                pinned,
            )
            s_t = chosen.select("a", "b", "w").distinct()
            msf = s_t if msf is None else msf.unionByName(s_t)
            # pointer graph over CURRENT component labels
            comps = comp.select(F.col("comp").alias("c")).distinct()
            ptr = comps.join(chosen.select("c", "oc"), "c", "left").select(
                "c", F.coalesce("oc", F.col("c")).alias("p")
            )
            # break the mutual 2-cycle: the smaller endpoint roots the tree
            pp = ptr.select(F.col("c").alias("p"), F.col("p").alias("pp"))
            root = _pin(
                ptr.join(pp, "p").select(
                    "c",
                    F.when(
                        (F.col("pp") == F.col("c")) & (F.col("c") < F.col("p")),
                        F.col("c"),
                    )
                    .otherwise(F.col("p"))
                    .alias("r"),
                ),
                pinned,
            )
            for _ in range(jumps):
                # pointer doubling: r[c] ← r[r[c]], stop at fixpoint
                lookup = root.select(
                    F.col("c").alias("lc"), F.col("r").alias("lr")
                )
                nxt = _pin(
                    root.join(lookup, root.r == lookup.lc).select(
                        "c", F.col("lr").alias("r"), F.col("r").alias("prev")
                    ),
                    pinned,
                )
                moved = not nxt.filter(F.col("r") != F.col("prev")).isEmpty()
                root = nxt.select("c", "r")
                if not moved:
                    break
            comp_next = comp.join(root, comp.comp == root.c).select(
                "node", F.col("r").alias("comp")
            )
            if state_partitions is not None:
                comp_next = comp_next.coalesce(state_partitions)
            comp = _pin(comp_next, pinned)
        else:
            # budget exhausted without the empty-frontier break: re-derive
            # the cross-component edge set and warn if any remains
            ca = comp.select(F.col("node").alias("a"), F.col("comp").alias("ca"))
            cb = comp.select(F.col("node").alias("b"), F.col("comp").alias("cb"))
            _warn_budget(
                "boruvka_msf",
                rounds,
                e.join(ca, "a").join(cb, "b").filter(F.col("ca") != F.col("cb")),
                "cross-component edges",
            )
        if msf is None:
            return e.limit(0)
        # one final checkpoint so the result survives the unpersist below
        out = msf.select("a", "b", "w").distinct().localCheckpoint(eager=True)
        return out
    finally:
        for p in pinned:
            p.unpersist()


def greedy_mis(
    edges: DataFrame,
    rounds: int = 4,
    state_partitions: int | None = None,
) -> DataFrame:
    """Maximal independent set by deterministic parallel greedy rounds.

    ``edges``: directed edge list (src, dst); symmetrized here. Priority
    is the node id's total order — per round, every ACTIVE node with no
    smaller active neighbor joins the MIS, then it and its neighbors
    deactivate. This parallel formulation computes exactly the
    LEXICOGRAPHICALLY FIRST MIS (greedy by ascending id): a node enters
    iff no smaller neighbor entered — deciding all currently-undominated
    local minima at once never changes that set, it only batches the
    sequential order. Luby's classic randomized algorithm is this loop
    with random priorities; a fixed total order keeps the op
    deterministic and oracle-checkable (the oracle unrolls the same
    rounds as CTEs).

    ``rounds`` bounds the loop (early-exit on an empty active set); the
    round count a graph needs is its longest strictly-descending id path
    through the domination structure — declared instances converge in
    ≤3, asserted by tests. Scale: each round is two joins + one partial
    agg on the node key, state pinned per round (``_pin`` — checkpoint +
    actual-size stats)."""
    pinned: list = []
    sym = _pin(
        edges.select("src", "dst")
        .unionByName(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct(),
        pinned,
    )
    active = _pin(sym.select(F.col("src").alias("node")).distinct(), pinned)
    mis = None
    try:
        for _ in range(rounds):
            if active.isEmpty():
                break
            a_src = active.select(F.col("node").alias("src"))
            a_dst = active.select(F.col("node").alias("dst"))
            live = sym.join(a_src, "src").join(a_dst, "dst")
            min_nbr = live.groupBy("src").agg(F.min("dst").alias("mn"))
            winners = _pin(
                active.join(min_nbr, active.node == min_nbr.src, "left")
                .filter(F.col("mn").isNull() | (F.col("node") < F.col("mn")))
                .select("node"),
                pinned,
            )
            mis = winners if mis is None else mis.unionByName(winners)
            dead = winners.unionByName(
                sym.join(
                    winners.select(F.col("node").alias("src")), "src"
                ).select(F.col("dst").alias("node"))
            ).distinct()
            nxt = active.join(dead, "node", "left_anti")
            if state_partitions is not None:
                nxt = nxt.coalesce(state_partitions)
            active = _pin(nxt, pinned)
        else:
            _warn_budget("greedy_mis", rounds, active, "undecided active nodes")
        if mis is None:
            return active.limit(0)
        return mis.distinct().localCheckpoint(eager=True)
    finally:
        for p in pinned:
            p.unpersist()


def greedy_matching(
    edges: DataFrame,
    rounds: int = 4,
    state_partitions: int | None = None,
) -> DataFrame:
    """Maximal matching by deterministic parallel greedy rounds: (a, b).

    ``edges``: directed edge list (src, dst); normalized here to
    undirected (a, b) pairs with a < b (self-loops dropped — a loop can
    never be matched). Per round, a LIVE edge (both endpoints unmatched)
    joins the matching iff it is the (a, b)-lexicographic minimum among
    the live edges at BOTH its endpoints; matched endpoints deactivate.
    Deciding all such locally-minimal edges at once computes exactly the
    LEXICOGRAPHICALLY FIRST maximal matching (sequential greedy by
    ascending (a, b)): an edge enters iff no smaller incident edge
    entered. The classic randomized parallel matching is this loop with
    random edge priorities; the fixed order keeps it deterministic and
    oracle-checkable. Scale: per round two equi-joins + one partial agg
    on the node key + one count-2 agg on the edge key; state pinned per
    round (``_pin``)."""
    pinned: list = []
    ed = _pin(
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct(),
        pinned,
    )
    active = _pin(
        ed.select(F.col("a").alias("node"))
        .unionByName(ed.select(F.col("b").alias("node")))
        .distinct(),
        pinned,
    )
    matched = None
    try:
        for _ in range(rounds):
            if active.isEmpty():
                break
            live = _pin(
                ed.join(active.select(F.col("node").alias("a")), "a").join(
                    active.select(F.col("node").alias("b")), "b"
                ).select("a", "b"),
                pinned,
            )
            inc = live.select(F.col("a").alias("node"), "a", "b").unionByName(
                live.select(F.col("b").alias("node"), "a", "b")
            )
            # per endpoint: the lexicographically smallest live edge
            m = inc.groupBy("node").agg(F.min(F.struct("a", "b")).alias("m"))
            # an edge that is the minimum at BOTH endpoints appears twice
            winners = _pin(
                m.select(F.col("m.a").alias("a"), F.col("m.b").alias("b"))
                .groupBy("a", "b")
                .agg(F.count(F.lit(1)).alias("k"))
                .filter(F.col("k") == 2)
                .select("a", "b"),
                pinned,
            )
            if winners.isEmpty():
                break
            matched = winners if matched is None else matched.unionByName(winners)
            ends = winners.select(F.col("a").alias("node")).unionByName(
                winners.select(F.col("b").alias("node"))
            )
            nxt = active.join(ends, "node", "left_anti")
            if state_partitions is not None:
                nxt = nxt.coalesce(state_partitions)
            active = _pin(nxt, pinned)
        else:
            # live edges (both endpoints still unmatched) remaining after
            # the budget mean the matching is not yet maximal
            _warn_budget(
                "greedy_matching",
                rounds,
                ed.join(active.select(F.col("node").alias("a")), "a").join(
                    active.select(F.col("node").alias("b")), "b"
                ),
                "live (matchable) edges",
            )
        if matched is None:
            return ed.limit(0)
        return matched.distinct().localCheckpoint(eager=True)
    finally:
        for p in pinned:
            p.unpersist()


def greedy_coloring(
    edges: DataFrame,
    rounds: int = 6,
    state_partitions: int | None = None,
) -> DataFrame:
    """Greedy graph coloring by the node-id total order: (node, color).

    ``edges``: directed edge list (src, dst); symmetrized here. A node is
    ELIGIBLE once every smaller neighbor is colored (round structure:
    the undominated local minima of the active set — the MIS winner
    rule); its color is the mex (minimum excluded non-negative integer)
    of its smaller neighbors' colors, computed row-locally by the
    classic sorted-fold: fold 0 over the sorted distinct neighbor
    colors, bumping the accumulator on every exact hit. This IS
    sequential greedy coloring by ascending id (NetworkX greedy_color
    with a fixed order) — batching the currently-eligible nodes never
    changes any node's smaller-neighbor color set. Deterministic, so
    oracle-checkable by unrolling the rounds. ``rounds`` must cover the
    longest ascending-id path (hierarchy: 3); early-exits when done.
    Scale: per round two equi-joins + a node-key partial agg; state
    pinned per round (``_pin``)."""
    pinned: list = []
    sym = _pin(
        edges.select("src", "dst")
        .unionByName(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .distinct(),
        pinned,
    )
    active = _pin(sym.select(F.col("src").alias("node")).distinct(), pinned)
    colored = None  # (node, color)
    try:
        for _ in range(rounds):
            if active.isEmpty():
                break
            a_src = active.select(F.col("node").alias("src"))
            a_dst = active.select(F.col("node").alias("dst"))
            live = sym.join(a_src, "src").join(a_dst, "dst")
            elig = _pin(
                active.join(
                    live.filter(F.col("dst") < F.col("src"))
                    .select(F.col("src").alias("node"))
                    .distinct(),
                    "node",
                    "left_anti",
                ),
                pinned,
            )
            if colored is None:
                w = elig.select("node", F.lit(0).alias("color"))
            else:
                nb = (
                    sym.join(elig.select(F.col("node").alias("src")), "src")
                    .filter(F.col("dst") < F.col("src"))
                    .join(
                        colored.select(
                            F.col("node").alias("dst"), "color"
                        ),
                        "dst",
                    )
                    .groupBy(F.col("src").alias("node"))
                    .agg(
                        F.sort_array(F.collect_set("color")).alias("cols")
                    )
                )
                w = elig.join(nb, "node", "left").select(
                    "node",
                    F.coalesce(
                        F.aggregate(
                            "cols",
                            F.lit(0),
                            lambda acc, x: F.when(x == acc, acc + 1).otherwise(acc),
                        ),
                        F.lit(0),
                    ).alias("color"),
                )
            w = _pin(w, pinned)
            colored = w if colored is None else colored.unionByName(w)
            nxt = active.join(w.select("node"), "node", "left_anti")
            if state_partitions is not None:
                nxt = nxt.coalesce(state_partitions)
            active = _pin(nxt, pinned)
        else:
            _warn_budget("greedy_coloring", rounds, active, "uncolored nodes")
        if colored is None:
            return sym.select(F.col("src").alias("node")).limit(0).withColumn(
                "color", F.lit(0)
            )
        return colored.localCheckpoint(eager=True)
    finally:
        for p in pinned:
            p.unpersist()

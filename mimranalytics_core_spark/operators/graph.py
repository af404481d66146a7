"""Graph operators — the reference's heart (SURVEY.md §2.9).

Provenance: the reference is a corporate-ownership graph product
(reference README.md:11 N-tier relationship mapping, README.md:13 UBO,
README.md:15 conflict/cycle detection, README.md:17 Time-Slider,
README.md:28 NetworkX pathfinding/centrality). We realize the same semantics
over derived edge DataFrames (catalog.hierarchy_edges — FIXTURES.md §derived
graph views) with two execution forms:

- **Recursive CTE** (Spark 4.1 ``WITH RECURSIVE``, lifecycle E2): bounded
  traversals — reachability, UBO weighted closure, cycle detection, BFS.
  DuckDB speaks the same dialect, so oracles are near-verbatim.
- **DataFrame-Pregel loop** (plans/pregel.py): unbounded fixpoints —
  connected components, PageRank. This replaces the reference's in-heap
  NetworkX step and is the part that actually scales: each superstep is a
  distributed join/agg, lineage truncated by localCheckpoint.

Scale posture: every traversal is depth-bounded or fixpoint-with-shrinking-
frontier; edges are pre-projected narrow (src, dst, weight); per-superstep
shuffles hash on node id — at 100 TB the edge table would be bucketed on src
so supersteps co-locate. Path-enumeration ops run on bounded subgraphs
(explicit seed/key filters) — unbounded path enumeration on a dense graph is
O(walks) and is deliberately not declared.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Window
from pyspark.sql import functions as F

from mimranalytics_core_spark import catalog
from mimranalytics_core_spark.functions import graph_kernels as gk
from mimranalytics_core_spark.functions import graph_snapshot
from mimranalytics_core_spark.operators._base import t, tables
from mimranalytics_core_spark.plans.pregel import CHANGED_COL, iterate_fixpoint
from mimranalytics_core_spark.registry import register

# Shared CTE text: the hierarchy edge list in SQL, identical semantics to
# catalog.hierarchy_edges. Valid in BOTH Spark SQL and DuckDB (probed:
# ||-concat, GREATEST, window SUM work identically).
HIERARCHY_SQL = """
    edges AS (
        SELECT 'c:' || c_custkey AS src,
               'n:' || c_nationkey AS dst,
               'customer_of' AS rel_type,
               CASE WHEN tot > 0 THEN bal / tot ELSE 0.0 END AS weight
        FROM (
            SELECT c_custkey, c_nationkey,
                   GREATEST(c_acctbal, 0.0) AS bal,
                   SUM(GREATEST(c_acctbal, 0.0)) OVER (PARTITION BY c_nationkey) AS tot
            FROM customer
        )
        UNION ALL
        SELECT 's:' || s_suppkey, 'n:' || s_nationkey, 'supplier_of', 1.0 FROM supplier
        UNION ALL
        SELECT 'n:' || n_nationkey, 'r:' || n_regionkey, 'nation_of', 1.0 FROM nation
    )
"""

# Trade-credit digraph for cycle detection: customer→supplier on purchase
# (buys_from), supplier→customer on shared nation (co_located — the local
# supply relationship). Cycles = customers buying from suppliers in their own
# nation — the circular-ownership analog (README.md:15). Bounded to
# custkey/suppkey < 50 to keep path enumeration subgraph-sized at every SF
# (scale posture above). DataFrame twin: catalog.trade_credit_edges —
# keep both in sync.
TRADE_CREDIT_SQL = """
    tc_edges AS (
        SELECT DISTINCT 'c:' || o.o_custkey AS src, 's:' || l.l_suppkey AS dst,
               'buys_from' AS rel_type
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE o.o_custkey < 50 AND l.l_suppkey < 50
        UNION ALL
        SELECT DISTINCT 's:' || s.s_suppkey, 'c:' || c.c_custkey, 'co_located'
        FROM supplier s JOIN customer c ON s.s_nationkey = c.c_nationkey
        WHERE c.c_custkey < 50 AND s.s_suppkey < 50
    )
"""


def _sql_both(spark, sf_dir, sql: str):
    """Run a SQL query that is valid verbatim in Spark and DuckDB (E2 entry)."""
    tables(spark, sf_dir)  # ensure views
    return spark.sql(sql)


@register(
    "graph_build_edges",
    "graph",
    oracle=f"""
        WITH {HIERARCHY_SQL}
        SELECT src, dst, rel_type, ROUND(weight, 6) AS weight FROM edges
    """,
    notes="typed weighted edge-list construction from relational tables (README.md:25)",
)
def graph_build_edges(spark, sf_dir):
    tables(spark, sf_dir)
    e = catalog.hierarchy_edges(spark, sf_dir)
    return e.select("src", "dst", "rel_type", F.round("weight", 6).alias("weight"))


@register(
    "graph_degree",
    "graph",
    oracle=f"""
        WITH {HIERARCHY_SQL},
        outd AS (SELECT src AS node, COUNT(*) AS out_deg FROM edges GROUP BY src),
        ind  AS (SELECT dst AS node, COUNT(*) AS in_deg  FROM edges GROUP BY dst)
        SELECT COALESCE(outd.node, ind.node) AS node,
               COALESCE(out_deg, 0) AS out_deg,
               COALESCE(in_deg, 0) AS in_deg,
               COALESCE(out_deg, 0) + COALESCE(in_deg, 0) AS total_deg
        FROM outd FULL OUTER JOIN ind ON outd.node = ind.node
    """,
    notes="degree centrality (README.md:28): two partial-agg'd counts + outer join",
)
def graph_degree(spark, sf_dir):
    tables(spark, sf_dir)
    e = catalog.hierarchy_edges(spark, sf_dir)
    outd = e.groupBy(F.col("src").alias("node")).agg(F.count("*").alias("out_deg"))
    ind = e.groupBy(F.col("dst").alias("node")).agg(F.count("*").alias("in_deg"))
    return (
        outd.join(ind, "node", "full")
        .select(
            "node",
            F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
            F.coalesce("in_deg", F.lit(0)).alias("in_deg"),
            (F.coalesce("out_deg", F.lit(0)) + F.coalesce("in_deg", F.lit(0))).alias("total_deg"),
        )
    )


@register(
    "graph_khop",
    "graph",
    oracle=f"""
        WITH {HIERARCHY_SQL},
        seeds AS (SELECT 'c:' || c_custkey AS node FROM customer WHERE c_custkey < 5),
        hop1 AS (SELECT DISTINCT e.dst AS node FROM edges e JOIN seeds s ON e.src = s.node),
        hop2 AS (SELECT DISTINCT e.dst AS node FROM edges e JOIN hop1 h ON e.src = h.node),
        lev AS (
            SELECT node, 0 AS hop FROM seeds
            UNION ALL SELECT node, 1 FROM hop1
            UNION ALL SELECT node, 2 FROM hop2
        )
        SELECT node, MIN(hop) AS hop FROM lev GROUP BY node
    """,
    notes="fixed-k interactive expansion (README.md:11): k chained joins, distinct per level",
)
def graph_khop(spark, sf_dir):
    tables(spark, sf_dir)
    e = catalog.hierarchy_edges(spark, sf_dir).select("src", "dst")
    c = t(spark, sf_dir, "customer")
    seeds = c.filter(F.col("c_custkey") < 5).select(
        F.concat(F.lit("c:"), F.col("c_custkey")).alias("node")
    )
    hop1 = (
        e.join(seeds, e.src == seeds.node).select(F.col("dst").alias("node")).distinct()
    )
    hop2 = e.join(hop1, e.src == hop1.node).select(F.col("dst").alias("node")).distinct()
    lev = (
        seeds.withColumn("hop", F.lit(0))
        .unionByName(hop1.withColumn("hop", F.lit(1)))
        .unionByName(hop2.withColumn("hop", F.lit(2)))
    )
    return lev.groupBy("node").agg(F.min("hop").alias("hop"))


_REACH_SQL = """
    WITH RECURSIVE {edges},
    reach(node, depth) AS (
        SELECT 'c:' || c_custkey AS node, 0 AS depth
        FROM customer WHERE c_custkey < 10
        UNION ALL
        SELECT e.dst, r.depth + 1
        FROM reach r JOIN edges e ON e.src = r.node
        WHERE r.depth < 6
    )
    SELECT node, MIN(depth) AS depth FROM reach GROUP BY node
"""


@register(
    "graph_reach_transitive",
    "graph",
    oracle=_REACH_SQL.format(edges=HIERARCHY_SQL),
    notes=(
        "transitive closure from seed set (N-tier, README.md:11) via recursive "
        "CTE — identical SQL text runs in Spark 4.1 and DuckDB; depth-bounded"
    ),
)
def graph_reach_transitive(spark, sf_dir):
    return _sql_both(spark, sf_dir, _REACH_SQL.format(edges=HIERARCHY_SQL))


_UBO_SQL = """
    WITH RECURSIVE {edges},
    paths(owner, entity, frac, depth) AS (
        SELECT src AS owner, dst AS entity, weight AS frac, 1 AS depth
        FROM edges WHERE src LIKE 'c:%'
        UNION ALL
        SELECT p.owner, e.dst, p.frac * e.weight, p.depth + 1
        FROM paths p JOIN edges e ON e.src = p.entity
        WHERE p.depth < 6
    )
    SELECT owner, entity, ROUND(SUM(frac), 6) AS effective_ownership
    FROM paths
    GROUP BY owner, entity
    HAVING SUM(frac) >= 0.001
"""


@register(
    "graph_ubo",
    "graph",
    oracle=_UBO_SQL.format(edges=HIERARCHY_SQL),
    notes=(
        "UBO (README.md:13): effective ownership = Σ over paths Π(edge "
        "fraction), threshold-filtered — weighted transitive closure as a "
        "recursive CTE carrying the running product. Semantics on cycles: "
        "depth-bounded simple paths (SURVEY.md §7.8.4); diamond/cycle math "
        "unit-tested on the 6-node fixture in tests/test_graph.py"
    ),
)
def graph_ubo(spark, sf_dir):
    return _sql_both(spark, sf_dir, _UBO_SQL.format(edges=HIERARCHY_SQL))


_CYCLE_SQL = """
    WITH RECURSIVE {edges},
    walk(origin, node, depth) AS (
        SELECT src AS origin, dst AS node, 1 AS depth FROM tc_edges
        UNION ALL
        SELECT w.origin, e.dst, w.depth + 1
        FROM walk w JOIN tc_edges e ON e.src = w.node
        WHERE w.depth < 4 AND w.node <> w.origin
    )
    SELECT DISTINCT origin AS node_on_cycle
    FROM walk WHERE node = origin
"""


@register(
    "graph_cycles",
    "graph",
    oracle=_CYCLE_SQL.format(edges=TRADE_CREDIT_SQL),
    notes=(
        "circular-ownership detection (README.md:15): nodes with a directed "
        "walk back to themselves within depth 4, on the bounded trade-credit "
        "digraph; walk stops expanding once it returns to origin"
    ),
)
def graph_cycles(spark, sf_dir):
    return _sql_both(spark, sf_dir, _CYCLE_SQL.format(edges=TRADE_CREDIT_SQL))


_BFS_SQL = """
    WITH RECURSIVE {edges},
    undirected AS (
        SELECT src, dst FROM edges
        UNION ALL
        SELECT dst, src FROM edges
    ),
    bfs(node, dist) AS (
        SELECT 'c:1' AS node, 0 AS dist
        UNION
        SELECT u.dst, b.dist + 1
        FROM bfs b JOIN undirected u ON u.src = b.node
        WHERE b.dist < 4
    )
    SELECT node, MIN(dist) AS dist FROM bfs GROUP BY node
"""
# ^ UNION, not UNION ALL, in the DuckDB oracle: the recursive step dedups
# (node, dist) per level — level-synchronous BFS, O(nodes·depth) rows —
# instead of walk enumeration, which re-reaches every nation member through
# every shared hub (>1M walks one decade above bench scale). Spark 4.1
# rejects UNION inside recursive CTEs (UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE),
# so the Spark side runs the equivalent DataFrame loop (bfs_distances:
# per-level distinct + anti-join against settled nodes) rather than the
# shared SQL text.


@register(
    "graph_shortest_path",
    "graph",
    oracle=_BFS_SQL.format(edges=HIERARCHY_SQL),
    notes=(
        "min-hop BFS from a seed over the undirected hierarchy (pathfinding, "
        "README.md:28): Spark side is the level-synchronous DataFrame loop "
        "(functions/graph_algos.bfs_distances — per-level distinct + "
        "anti-join, O(nodes·depth) rows at any scale); the oracle is the "
        "same closure as a deduping recursive UNION CTE in DuckDB. The "
        "former shared-SQL walk enumeration tripped Spark's 1M recursion "
        "row limit one decade above bench scale (114 s at sf1 → 2 s). "
        "Weighted SSSP twin: graph_weighted_sssp"
    ),
)
def graph_shortest_path(spark, sf_dir, max_depth: int = 4):
    from mimranalytics_core_spark.functions.graph_algos import bfs_distances, undirect

    tables(spark, sf_dir)
    und = undirect(catalog.hierarchy_edges(spark, sf_dir))
    seeds = spark.createDataFrame([("c:1",)], "node STRING")
    return bfs_distances(und, seeds, max_depth=max_depth).select(
        "node", F.col("dist").cast("int").alias("dist")
    )


@register(
    "graph_connected_components",
    "graph",
    oracle="""
        WITH nodes AS (
            SELECT 'c:' || c_custkey AS node, n_regionkey AS rk
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            UNION ALL
            SELECT 's:' || s_suppkey, n_regionkey
            FROM supplier JOIN nation ON s_nationkey = n_nationkey
            UNION ALL
            SELECT 'n:' || n_nationkey, n_regionkey FROM nation
            UNION ALL
            SELECT 'r:' || r_regionkey, r_regionkey FROM region
        )
        SELECT node, MIN(node) OVER (PARTITION BY rk) AS component FROM nodes
    """,
    notes=(
        "connected components (corporate clusters, README.md:15/28): Spark "
        "side runs real label-propagation DF-Pregel (min-label fixpoint, "
        "lineage-checkpointed) — the distributed replacement for NetworkX. "
        "Oracle derives ground truth non-iteratively: hierarchy components "
        "are exactly the region trees, so component = min node id per region"
    ),
)
def graph_connected_components(spark, sf_dir):
    from mimranalytics_core_spark.functions.graph_algos import connected_components

    tables(spark, sf_dir)
    e = catalog.hierarchy_edges(spark, sf_dir).select("src", "dst")
    # derived graph state ≪ data size at every SF → narrow the loop state
    return connected_components(e, max_iter=10, state_partitions=8)


def _pagerank_oracle_sql(iters: int = 10, damping: float = 0.85) -> str:
    """Unrolled fixed-``iters`` damped-PageRank oracle (SURVEY.md §2.9's
    'fixed-N unrolled iteration' option): one (contrib, dangling-mass,
    update) CTE triple per iteration, the exact recurrence graph_algos.
    pagerank runs — rank₀ = 1/n; rankₖ₊₁(v) = (1-d)/n + d·(inflowₖ(v) +
    dmₖ/n). Deterministic in DuckDB because every step is a plain
    join+aggregate over the previous iteration's table."""
    steps = []
    prev = "pr0"
    for k in range(1, iters + 1):
        steps.append(
            f"""
        c{k} AS (SELECT s.dst AS node, SUM(p.rank * s.share) AS inflow
                 FROM shares s JOIN {prev} p ON s.src = p.node GROUP BY s.dst),
        d{k} AS (SELECT COALESCE(SUM(rank), 0.0) AS dm FROM {prev}
                 WHERE node IN (SELECT node FROM dangling)),
        pr{k} AS (SELECT nodes.node,
                         (1 - {damping}) / nn.n
                         + {damping} * (COALESCE(c{k}.inflow, 0.0) + d{k}.dm / nn.n)
                             AS rank
                  FROM nodes CROSS JOIN nn CROSS JOIN d{k}
                  LEFT JOIN c{k} ON nodes.node = c{k}.node)"""
        )
        prev = f"pr{k}"
    return f"""
        WITH {HIERARCHY_SQL},
        e AS MATERIALIZED (SELECT src, dst FROM edges),
        nodes AS MATERIALIZED (SELECT DISTINCT node FROM
                  (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
        nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
        outd AS (SELECT src, COUNT(*) AS od FROM e GROUP BY src),
        shares AS MATERIALIZED (SELECT e.src, e.dst, 1.0 / outd.od AS share
                   FROM e JOIN outd ON e.src = outd.src),
        dangling AS MATERIALIZED (SELECT node FROM nodes
                     WHERE node NOT IN (SELECT src FROM e)),
        pr0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes),
        {",".join(steps)}
        SELECT node, FLOOR(rank * 1000000 + 0.5) / 1000000 AS rank FROM {prev}
    """


@register(
    "graph_pagerank",
    "graph",
    oracle=_pagerank_oracle_sql(iters=10, damping=0.85),
    notes=(
        "PageRank (influence centrality, README.md:28): 10 damped iterations "
        "of rank/out_deg propagation over the hierarchy digraph, each one "
        "superstep of the power family's shared A*x kernel "
        "(graph_algos._spmv); dangling mass redistributed uniformly. Oracle "
        "is the same recurrence unrolled as 10 CTE triples in DuckDB "
        "(hash-checked, not "
        "rows-only — closed the round-2 verdict's largest oracle gap); "
        "exactness vs NetworkX-style reference values additionally asserted "
        "on the 6-node fixture in tests"
    ),
)
def graph_pagerank(spark, sf_dir):
    from mimranalytics_core_spark.functions.graph_algos import pagerank

    tables(spark, sf_dir)
    e = catalog.hierarchy_edges(spark, sf_dir).select("src", "dst")
    # floor(x·1e6 + .5)/1e6, not F.round: the house half-up pairing that the
    # DuckDB side mirrors digit-for-digit (F.round HALF_UPs the DECIMAL
    # rendering, which can differ from the oracle's float floor at the ulp).
    return pagerank(e, iters=10, state_partitions=8).select(
        "node", (F.floor(F.col("rank") * 1000000 + F.lit(0.5)) / 1000000).alias("rank")
    )


def _ppr_oracle_sql(iters: int = 10, damping: float = 0.85) -> str:
    """Unrolled personalized-PageRank oracle: the pagerank oracle's CTE
    triples with the teleport vector restricted to the seed set (customers
    with custkey < 10) — rank₀ = tele; rankₖ₊₁(v) = (1-d)·tele(v) +
    d·(inflowₖ(v) + dmₖ·tele(v)); dangling mass returns to the seeds."""
    steps = []
    prev = "pr0"
    for k in range(1, iters + 1):
        steps.append(
            f"""
        c{k} AS (SELECT s.dst AS node, SUM(p.rank * s.share) AS inflow
                 FROM shares s JOIN {prev} p ON s.src = p.node GROUP BY s.dst),
        d{k} AS (SELECT COALESCE(SUM(rank), 0.0) AS dm FROM {prev}
                 WHERE node IN (SELECT node FROM dangling)),
        pr{k} AS (SELECT tele.node,
                         (1 - {damping}) * tele.t
                         + {damping} * (COALESCE(c{k}.inflow, 0.0) + d{k}.dm * tele.t)
                             AS rank
                  FROM tele CROSS JOIN d{k}
                  LEFT JOIN c{k} ON tele.node = c{k}.node)"""
        )
        prev = f"pr{k}"
    return f"""
        WITH {HIERARCHY_SQL},
        e AS MATERIALIZED (SELECT src, dst FROM edges),
        nodes AS MATERIALIZED (SELECT DISTINCT node FROM
                  (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
        seeds AS MATERIALIZED (SELECT 'c:' || c_custkey AS node
                               FROM customer WHERE c_custkey < 10),
        ns AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM seeds),
        tele AS MATERIALIZED (
            SELECT nodes.node,
                   CASE WHEN seeds.node IS NOT NULL THEN 1.0 / ns.n
                        ELSE 0.0 END AS t
            FROM nodes CROSS JOIN ns LEFT JOIN seeds ON nodes.node = seeds.node),
        outd AS (SELECT src, COUNT(*) AS od FROM e GROUP BY src),
        shares AS MATERIALIZED (SELECT e.src, e.dst, 1.0 / outd.od AS share
                   FROM e JOIN outd ON e.src = outd.src),
        dangling AS MATERIALIZED (SELECT node FROM nodes
                     WHERE node NOT IN (SELECT src FROM e)),
        pr0 AS (SELECT node, t AS rank FROM tele),
        {",".join(steps)}
        SELECT node, FLOOR(rank * 1000000 + 0.5) / 1000000 AS rank FROM {prev}
    """


@register(
    "graph_pagerank_personalized",
    "graph",
    oracle=_ppr_oracle_sql(iters=10, damping=0.85),
    notes=(
        "personalized PageRank (README.md:13 'automatically calculate and "
        "highlight' — influence of THIS entity set, the natural seeded "
        "variant for an ownership-graph product): teleport restricted to a "
        "seed set (customers custkey < 10), dangling mass returned to the "
        "seeds, 10 damped iterations. graph_algos.pagerank with a seeds "
        "frame — the same supersteps as graph_pagerank; the teleport column "
        "rides the checkpointed node frame, so personalization adds no "
        "extra shuffle. Oracle: the pagerank unrolled-CTE recurrence with "
        "the seed-restricted "
        "teleport vector, hash-checked"
    ),
)
def graph_pagerank_personalized(spark, sf_dir):
    from mimranalytics_core_spark.functions.graph_algos import pagerank

    tables(spark, sf_dir)
    e = catalog.hierarchy_edges(spark, sf_dir).select("src", "dst")
    seeds = (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < 10)
        .select(F.concat(F.lit("c:"), F.col("c_custkey")).alias("node"))
    )
    return pagerank(e, iters=10, state_partitions=8, seeds=seeds).select(
        "node", (F.floor(F.col("rank") * 1000000 + F.lit(0.5)) / 1000000).alias("rank")
    )


@register(
    "graph_common_neighbors",
    "graph",
    oracle="""
        WITH purchases AS (
            SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey AS supp
            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
            WHERE o.o_custkey < 100
        )
        SELECT a.cust AS cust_a, b.cust AS cust_b, COUNT(*) AS shared_suppliers
        FROM purchases a JOIN purchases b
          ON a.supp = b.supp AND a.cust < b.cust
        GROUP BY a.cust, b.cust
        HAVING COUNT(*) >= 3
    """,
    notes=(
        "shared-counterparty detection (shared director analog, README.md:15): "
        "inverted-index self-join on the shared endpoint + pair count; the "
        "shared key is the shuffle key — hot suppliers would be df-capped/"
        "salted at 100 TB"
    ),
)
def graph_common_neighbors(spark, sf_dir):
    o = t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    li = t(spark, sf_dir, "lineitem")
    purchases = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("cust"), F.col("l_suppkey").alias("supp"))
        .distinct()
    )
    a = purchases.alias("a")
    b = purchases.alias("b")
    return (
        a.join(b, (F.col("a.supp") == F.col("b.supp")) & (F.col("a.cust") < F.col("b.cust")))
        .groupBy(F.col("a.cust").alias("cust_a"), F.col("b.cust").alias("cust_b"))
        .agg(F.count("*").alias("shared_suppliers"))
        .filter(F.col("shared_suppliers") >= 3)
    )


@register(
    "graph_link_prediction",
    "graph",
    oracle="""
        WITH purchases AS (
            SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey AS supp
            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
            WHERE o.o_custkey < 100
        ),
        deg AS (SELECT supp, COUNT(*) AS d FROM purchases GROUP BY supp)
        SELECT a.cust AS cust_a, b.cust AS cust_b,
               COUNT(*) AS n_shared,
               FLOOR(SUM(1.0 / LN(deg.d)) * 1e6 + 0.5) / 1e6 AS aa_score
        FROM purchases a
        JOIN purchases b ON a.supp = b.supp AND a.cust < b.cust
        JOIN deg ON deg.supp = a.supp
        GROUP BY a.cust, b.cust
        HAVING COUNT(*) >= 3
    """,
    notes=(
        "Adamic–Adar link prediction (README.md:28 — the NetworkX "
        "link-prediction family next to common-neighbors; README.md:15 "
        "hidden-link signal): AA(u,v) = Σ over shared counterparties w of "
        "1/ln(deg(w)) — rare shared suppliers weigh more than ubiquitous "
        "ones. Same inverted-index self-join as graph_common_neighbors "
        "plus one broadcast-sized degree join; the shared key is the "
        "shuffle key (hot counterparties df-capped/salted at 100 TB). "
        "deg(w) >= 2 for every shared counterparty by construction, so "
        "1/ln is always finite. floor-HALF_UP rounding discipline on the "
        "float sum, LN parity with DuckDB proven by fn_math"
    ),
)
def graph_link_prediction(spark, sf_dir):
    o = t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    li = t(spark, sf_dir, "lineitem")
    purchases = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("cust"), F.col("l_suppkey").alias("supp"))
        .distinct()
    )
    # rename the degree key: deg shares lineage with both self-join sides,
    # so an unrenamed `supp` would be ambiguous
    deg = purchases.groupBy("supp").agg(F.count("*").alias("d")).select(
        F.col("supp").alias("dsupp"), "d"
    )
    a = purchases.alias("a")
    b = purchases.alias("b")
    return (
        a.join(b, (F.col("a.supp") == F.col("b.supp")) & (F.col("a.cust") < F.col("b.cust")))
        .join(deg, F.col("a.supp") == F.col("dsupp"))
        .groupBy(F.col("a.cust").alias("cust_a"), F.col("b.cust").alias("cust_b"))
        .agg(
            F.count("*").alias("n_shared"),
            (
                F.floor(F.sum(F.lit(1.0) / F.log(F.col("d"))) * 1e6 + F.lit(0.5)) / 1e6
            ).alias("aa_score"),
        )
        .filter(F.col("n_shared") >= 3)
    )


@register(
    "graph_jaccard_neighbors",
    "graph",
    oracle="""
        WITH purchases AS (
            SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey AS supp
            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
            WHERE o.o_custkey < 100
        ),
        deg AS (SELECT cust, COUNT(*) AS d FROM purchases GROUP BY cust)
        SELECT a.cust AS cust_a, b.cust AS cust_b,
               COUNT(*) AS n_shared,
               FLOOR(COUNT(*) * 1e6 / (da.d + db.d - COUNT(*)) + 0.5) / 1e6
                   AS jaccard
        FROM purchases a
        JOIN purchases b ON a.supp = b.supp AND a.cust < b.cust
        JOIN deg da ON da.cust = a.cust
        JOIN deg db ON db.cust = b.cust
        GROUP BY a.cust, b.cust, da.d, db.d
        HAVING COUNT(*) >= 3
    """,
    notes=(
        "neighborhood Jaccard similarity (README.md:28 link-prediction "
        "family, README.md:15 hidden-link signal — the set-overlap "
        "companion to Adamic–Adar): J(u,v) = |N(u)∩N(v)| / |N(u)∪N(v)| "
        "over shared counterparties. Inverted-index self-join generates "
        "the intersection counts; two broadcast-sized degree joins supply "
        "the union denominator — no per-pair set materialization. "
        "floor-HALF_UP on the single double division (identical IEEE both "
        "engines)"
    ),
)
def graph_jaccard_neighbors(spark, sf_dir):
    o = t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    li = t(spark, sf_dir, "lineitem")
    purchases = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("cust"), F.col("l_suppkey").alias("supp"))
        .distinct()
    )
    deg = purchases.groupBy("cust").agg(F.count("*").alias("d"))
    da = deg.select(F.col("cust").alias("ca"), F.col("d").alias("da"))
    db = deg.select(F.col("cust").alias("cb"), F.col("d").alias("db"))
    a = purchases.alias("a")
    b = purchases.alias("b")
    shared = (
        a.join(b, (F.col("a.supp") == F.col("b.supp")) & (F.col("a.cust") < F.col("b.cust")))
        .groupBy(F.col("a.cust").alias("cust_a"), F.col("b.cust").alias("cust_b"))
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= 3)
    )
    return (
        shared.join(da, shared.cust_a == da.ca)
        .join(db, shared.cust_b == db.cb)
        .select(
            "cust_a",
            "cust_b",
            "n_shared",
            (
                F.floor(
                    F.col("n_shared") * 1e6 / (F.col("da") + F.col("db") - F.col("n_shared"))
                    + F.lit(0.5)
                )
                / 1e6
            ).alias("jaccard"),
        )
    )


@register(
    "graph_triangles",
    "graph",
    oracle="""
        WITH su AS (
            SELECT DISTINCT l_suppkey AS supp, l_partkey AS part
            FROM lineitem WHERE l_suppkey < 50
        ),
        ss AS (
            SELECT DISTINCT a.supp AS s1, b.supp AS s2
            FROM su a JOIN su b ON a.part = b.part AND a.supp < b.supp
        )
        SELECT e1.s1 AS a, e1.s2 AS b, e2.s2 AS c
        FROM ss e1
        JOIN ss e2 ON e2.s1 = e1.s2
        JOIN ss e3 ON e3.s1 = e1.s1 AND e3.s2 = e2.s2
    """,
    notes=(
        "triangle enumeration (tight collusion loops, README.md:15) on the "
        "supplier co-part projection, id-ordered a<b<c so each triangle "
        "appears once; bounded subgraph keeps the projection dense-safe"
    ),
)
def graph_triangles(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_suppkey") < 50)
    su = li.select(F.col("l_suppkey").alias("supp"), F.col("l_partkey").alias("part")).distinct()
    a = su.alias("a")
    b = su.alias("b")
    ss = (
        a.join(b, (F.col("a.part") == F.col("b.part")) & (F.col("a.supp") < F.col("b.supp")))
        .select(F.col("a.supp").alias("s1"), F.col("b.supp").alias("s2"))
        .distinct()
    )
    e1 = ss.alias("e1")
    e2 = ss.alias("e2")
    e3 = ss.alias("e3")
    return (
        e1.join(e2, F.col("e2.s1") == F.col("e1.s2"))
        .join(e3, (F.col("e3.s1") == F.col("e1.s1")) & (F.col("e3.s2") == F.col("e2.s2")))
        .select(F.col("e1.s1").alias("a"), F.col("e1.s2").alias("b"), F.col("e2.s2").alias("c"))
    )


# Interaction graph (FIXTURES.md): user→event_type edges with timestamps —
# the temporal graph for Time-Slider ops.
_INTERACTION_SQL = """
    iedges AS (
        SELECT user_id, event_type, MIN(ts) AS first_seen
        FROM events
        GROUP BY user_id, event_type
    )
"""


@register(
    "graph_asof_snapshot",
    "graph",
    oracle=f"""
        WITH {_INTERACTION_SQL}
        SELECT user_id, event_type, first_seen
        FROM iedges
        WHERE first_seen <= TIMESTAMP '2024-01-15 00:00:00'
    """,
    notes=(
        "Time-Slider as-of snapshot (README.md:17): validity filter composed "
        "before any traversal — here the interaction graph as of Jan 15"
    ),
)
def graph_asof_snapshot(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    edges = ev.groupBy("user_id", "event_type").agg(F.min("ts").alias("first_seen"))
    return edges.filter(
        F.col("first_seen") <= F.lit("2024-01-15 00:00:00").cast("timestamp_ntz")
    )


@register(
    "graph_temporal_diff",
    "graph",
    oracle=f"""
        WITH {_INTERACTION_SQL},
        t1 AS (SELECT user_id, event_type FROM iedges
               WHERE first_seen <= TIMESTAMP '2024-01-10 00:00:00'),
        t2 AS (SELECT user_id, event_type FROM iedges
               WHERE first_seen <= TIMESTAMP '2024-01-20 00:00:00')
        SELECT user_id, event_type, 'added' AS change
        FROM (SELECT * FROM t2 EXCEPT SELECT * FROM t1)
    """,
    notes=(
        "edges appearing between two Time-Slider snapshots (README.md:17): "
        "two as-of filters + set difference (monotone first_seen ⇒ nothing is "
        "ever 'removed'; the removed side is the symmetric exceptAll)"
    ),
)
def graph_temporal_diff(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    edges = ev.groupBy("user_id", "event_type").agg(F.min("ts").alias("first_seen"))
    t1 = edges.filter(
        F.col("first_seen") <= F.lit("2024-01-10 00:00:00").cast("timestamp_ntz")
    ).select("user_id", "event_type")
    t2 = edges.filter(
        F.col("first_seen") <= F.lit("2024-01-20 00:00:00").cast("timestamp_ntz")
    ).select("user_id", "event_type")
    return t2.subtract(t1).withColumn("change", F.lit("added"))


@register(
    "graph_asof_traverse",
    "graph",
    oracle=f"""
        WITH {_INTERACTION_SQL},
        snap AS (
            SELECT user_id, event_type FROM iedges
            WHERE first_seen <= TIMESTAMP '2024-01-15 00:00:00'
        ),
        seeds AS (SELECT DISTINCT event_type FROM snap WHERE event_type = 'error'),
        hop1 AS (  -- users linked to the seed event type as of t
            SELECT DISTINCT s.user_id FROM snap s JOIN seeds ON s.event_type = seeds.event_type
        ),
        hop2 AS (  -- event types those users also touched as of t
            SELECT DISTINCT s.event_type FROM snap s JOIN hop1 ON s.user_id = hop1.user_id
        )
        SELECT 'u:' || user_id AS node, 1 AS hop FROM hop1
        UNION ALL
        SELECT 'e:' || event_type, 2 FROM hop2 WHERE event_type <> 'error'
    """,
    notes=(
        "Time-Slider composition (README.md:17 + README.md:11): as-of "
        "validity filter applied FIRST, then a 2-hop traversal of the "
        "bipartite user—event_type interaction graph — proves snapshot "
        "composes with any downstream graph op; the filter prunes state "
        "before the joins (cheapest order at scale)"
    ),
)
def graph_asof_traverse(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    snap = (
        ev.groupBy("user_id", "event_type")
        .agg(F.min("ts").alias("first_seen"))
        .filter(F.col("first_seen") <= F.lit("2024-01-15 00:00:00").cast("timestamp_ntz"))
        .select("user_id", "event_type")
    )
    hop1 = snap.filter(F.col("event_type") == "error").select("user_id").distinct()
    hop2 = (
        snap.join(hop1, "user_id")
        .select("event_type")
        .distinct()
        .filter(F.col("event_type") != "error")
    )
    return (
        hop1.select(F.concat(F.lit("u:"), F.col("user_id")).alias("node"), F.lit(1).alias("hop"))
        .unionByName(
            hop2.select(F.concat(F.lit("e:"), F.col("event_type")).alias("node"), F.lit(2).alias("hop"))
        )
    )


@register(
    "graph_temporal_ownership",
    "graph",
    oracle="""
        WITH tedges AS (
            SELECT o.o_custkey AS cust, l.l_suppkey AS supp,
                   MIN(o.o_orderdate) AS valid_from,
                   MAX(o.o_orderdate) AS valid_to,
                   SUM(l.l_extendedprice) AS vol
            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
            WHERE o.o_custkey < 100
            GROUP BY o.o_custkey, l.l_suppkey
        ),
        snap AS (
            SELECT * FROM tedges
            WHERE valid_from <= TIMESTAMP '1998-01-01 00:00:00'
              AND TIMESTAMP '1998-01-01 00:00:00' <= valid_to
        )
        SELECT cust, supp,
               FLOOR(vol / SUM(vol) OVER (PARTITION BY cust) * 1e6 + 0.5) / 1e6 AS share,
               valid_from, valid_to
        FROM snap
    """,
    notes=(
        "Time-Slider over the ownership graph itself (README.md:17 + 13): "
        "relationship edges carry [valid_from, valid_to] validity; the as-of "
        "predicate selects the structure at t and shares are renormalized "
        "within the snapshot — the reference's slider semantics on edges, "
        "not events. Validity intervals derived per edge by min/max "
        "aggregation; at scale the edge table is date-partitioned so the "
        "as-of filter prunes files"
    ),
)
def graph_temporal_ownership(spark, sf_dir):
    from pyspark.sql import Window

    o = t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    li = t(spark, sf_dir, "lineitem")
    at = F.lit("1998-01-01 00:00:00").cast("timestamp_ntz")
    tedges = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy(F.col("o_custkey").alias("cust"), F.col("l_suppkey").alias("supp"))
        .agg(
            F.min("o_orderdate").alias("valid_from"),
            F.max("o_orderdate").alias("valid_to"),
            F.sum("l_extendedprice").alias("vol"),
        )
    )
    asof = tedges.filter((F.col("valid_from") <= at) & (at <= F.col("valid_to")))
    w = Window.partitionBy("cust")
    share = F.floor(F.col("vol") / F.sum("vol").over(w) * 1e6 + F.lit(0.5)) / 1e6
    return asof.select("cust", "supp", share.alias("share"), "valid_from", "valid_to")


_VIZ_EXPORT_SQL = """
    WITH RECURSIVE {edges},
    sym AS (
        SELECT src, dst FROM edges
        UNION SELECT dst AS src, src AS dst FROM edges
    ),
    reach(node, hop) AS (
        -- UNION ALL: Spark recursive CTEs reject distinct-UNION; the walk
        -- count is bounded by the hop<2 depth and vnodes dedups via MIN(hop)
        SELECT 'c:' || c_custkey AS node, 0 AS hop FROM customer WHERE c_custkey < 4
        UNION ALL
        SELECT s.dst, r.hop + 1 FROM reach r JOIN sym s ON s.src = r.node
        WHERE r.hop < 2
    ),
    vnodes AS (SELECT node, CAST(MIN(hop) AS INT) AS hop FROM reach GROUP BY node),
    vedges AS (
        SELECT DISTINCT e.src, e.dst FROM edges e
        JOIN vnodes a ON e.src = a.node
        JOIN vnodes b ON e.dst = b.node
    )
    SELECT 'node' AS kind, node AS a, '' AS b, hop FROM vnodes
    UNION ALL
    SELECT 'edge' AS kind, src AS a, dst AS b, CAST(-1 AS INT) AS hop FROM vedges
"""


@register(
    "graph_export_viz",
    "graph",
    oracle=_VIZ_EXPORT_SQL.format(edges=HIERARCHY_SQL),
    notes=(
        "graph-visualization export payload (README.md:19 — 'graph "
        "visualizations and underlying relational data'): the bounded "
        "2-hop undirected neighborhood of a seed set as one relational "
        "frame — node rows (id, min hop) + the directed ownership edges "
        "whose BOTH endpoints are inside the neighborhood. The JSON/file "
        "artifact form is api.export_graph_viz (same frame through the "
        "partitioned sink); sentinel '' / -1 instead of NULLs keeps the "
        "frame hashable for scalar comparators"
    ),
)
def graph_export_viz(spark, sf_dir):
    return _sql_both(spark, sf_dir, _VIZ_EXPORT_SQL.format(edges=HIERARCHY_SQL))


_UBO_ASOF_SQL = """
    WITH RECURSIVE tedges AS (
        -- tier 1: customer→supplier ownership edges carrying validity
        -- intervals as PRIMARY data (derived here from order activity)
        SELECT 'c:' || o.o_custkey AS src, 's:' || l.l_suppkey AS dst,
               MIN(o.o_orderdate) AS valid_from,
               MAX(o.o_orderdate) AS valid_to,
               SUM(l.l_extendedprice) AS vol
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE o.o_custkey < 150
        GROUP BY o.o_custkey, l.l_suppkey
    ),
    snap1 AS (
        -- as-of filter FIRST, then shares renormalized within the snapshot:
        -- ownership fractions are relative to the structure valid at t
        SELECT src, dst, vol / SUM(vol) OVER (PARTITION BY src) AS weight
        FROM tedges
        WHERE valid_from <= TIMESTAMP '{t}' AND TIMESTAMP '{t}' <= valid_to
    ),
    sedges AS (
        -- tier 2: supplier→nation, valid while the supplier ships
        SELECT 's:' || l.l_suppkey AS src, 'n:' || s.s_nationkey AS dst,
               MIN(l.l_shipdate) AS valid_from, MAX(l.l_shipdate) AS valid_to
        FROM supplier s JOIN lineitem l ON l.l_suppkey = s.s_suppkey
        GROUP BY l.l_suppkey, s.s_nationkey
    ),
    snap2 AS (
        SELECT src, dst, CAST(1 AS DOUBLE) AS weight FROM sedges
        WHERE valid_from <= TIMESTAMP '{t}' AND TIMESTAMP '{t}' <= valid_to
    ),
    snap3 AS (
        -- tier 3: nation→region, timeless structural edges
        SELECT 'n:' || n_nationkey AS src, 'r:' || n_regionkey AS dst,
               CAST(1 AS DOUBLE) AS weight
        FROM nation
    ),
    vedges AS (
        SELECT * FROM snap1 UNION ALL SELECT * FROM snap2 UNION ALL SELECT * FROM snap3
    ),
    paths(owner, entity, frac, depth) AS (
        SELECT src AS owner, dst AS entity, weight AS frac, 1 AS depth
        FROM vedges WHERE src LIKE 'c:%'
        UNION ALL
        SELECT p.owner, e.dst, p.frac * e.weight, p.depth + 1
        FROM paths p JOIN vedges e ON e.src = p.entity
        WHERE p.depth < 4
    )
    SELECT owner, entity,
           FLOOR(SUM(frac) * 1e6 + 0.5) / 1e6 AS effective_ownership
    FROM paths
    GROUP BY owner, entity
    HAVING SUM(frac) >= 0.001
"""


@register(
    "graph_ubo_asof",
    "graph",
    oracle=_UBO_ASOF_SQL.format(t="1997-06-01 00:00:00"),
    notes=(
        "Time-Slider UBO (README.md:17 + 13): multi-tier weighted ownership "
        "closure AS OF t over an edge table whose [valid_from, valid_to] "
        "validity is primary data — every edge on every path must be valid "
        "at t, and tier-1 shares renormalize within the snapshot before the "
        "closure. Recursive CTE shared verbatim with the oracle; at scale "
        "the validity filter prunes date-partitioned edge files before any "
        "join, and the closure shuffles only surviving edges"
    ),
)
def graph_ubo_asof(spark, sf_dir):
    return _sql_both(spark, sf_dir, _UBO_ASOF_SQL.format(t="1997-06-01 00:00:00"))


@register(
    "graph_betweenness",
    "graph",
    oracle=f"""
        WITH RECURSIVE {HIERARCHY_SQL.strip()},
        ue AS (SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges),
        srcs AS (SELECT DISTINCT src AS s FROM ue
                 WHERE src LIKE 'n:%' OR src LIKE 'r:%'),
        walk(s, node, path) AS (
            SELECT s, s, [s] FROM srcs
            UNION ALL
            SELECT w.s, e.dst, list_append(w.path, e.dst)
            FROM walk w JOIN ue e ON e.src = w.node
            WHERE NOT list_contains(w.path, e.dst) AND len(w.path) <= 6
        ),
        paths AS (SELECT s, node AS t, path, len(path) - 1 AS d
                  FROM walk WHERE node != s),
        mind AS (SELECT s, t, MIN(d) AS md FROM paths GROUP BY s, t),
        sp AS (SELECT p.s, p.t, p.path FROM paths p
               JOIN mind m ON p.s = m.s AND p.t = m.t AND p.d = m.md),
        sigma AS (SELECT s, t, COUNT(*) AS sig FROM sp GROUP BY s, t),
        interior AS (SELECT s, t, unnest(list_slice(path, 2, len(path) - 1)) AS v
                     FROM sp),
        via AS (SELECT s, t, v, COUNT(*) AS cnt FROM interior GROUP BY s, t, v),
        b AS (SELECT v AS node, SUM(cnt * 1.0 / sig) AS bw
              FROM via JOIN sigma USING (s, t) GROUP BY v)
        SELECT node, FLOOR(bw * 1e6 + 0.5) / 1e6 AS betweenness FROM b
    """,
    notes=(
        "Brandes betweenness centrality (README.md:28 'centrality'): "
        "level-synchronous BFS carrying shortest-path counts for a sampled "
        "source set (all nation+region nodes), then per-level dependency "
        "accumulation — ≤ 2·diameter supersteps total, each one join/agg, "
        "for ANY graph size; the distributed replacement for "
        "networkx.betweenness_centrality. Source sampling is the standard "
        "estimator at scale (exact per source). The oracle is first-"
        "principles exact: DuckDB enumerates every min-length simple path "
        "from the same sources (list-valued recursive CTE, depth-bounded "
        "like the BFS) and sums per-pair fractions sigma_st(v)/sigma_st — "
        "a completely independent formulation of the same definition, so "
        "the hash match certifies both BFS path counting and dependency "
        "accumulation"
    ),
)
def graph_betweenness(spark, sf_dir):
    from mimranalytics_core_spark.functions.graph_algos import betweenness, undirect

    tables(spark, sf_dir)
    e = undirect(catalog.hierarchy_edges(spark, sf_dir))
    sources = (
        e.select("src").filter(F.col("src").startswith("n:"))
        .union(e.select("src").filter(F.col("src").startswith("r:")))
        .distinct()
        .select(F.col("src").alias("node"))
    )
    return betweenness(e, sources, max_depth=6, state_partitions=8)


@register(
    "graph_closeness",
    "graph",
    oracle=f"""
        WITH RECURSIVE {HIERARCHY_SQL.strip()},
        ue AS (SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges),
        srcs AS (SELECT DISTINCT src AS s FROM ue
                 WHERE src LIKE 'n:%' OR src LIKE 'r:%'),
        walk(s, node, path) AS (
            SELECT s, s, [s] FROM srcs
            UNION ALL
            SELECT w.s, e.dst, list_append(w.path, e.dst)
            FROM walk w JOIN ue e ON e.src = w.node
            WHERE NOT list_contains(w.path, e.dst) AND len(w.path) <= 6
        ),
        md AS (SELECT s, node, MIN(len(path) - 1) AS d
               FROM walk WHERE node != s GROUP BY s, node)
        SELECT s AS node,
               FLOOR(COUNT(*) * 1.0 / SUM(d) * 1e6 + 0.5) / 1e6 AS closeness
        FROM md GROUP BY s
    """,
    notes=(
        "closeness centrality (README.md:28 'centrality' — completes the "
        "NetworkX centrality surface: degree/pagerank/betweenness/"
        "closeness): C(s) = |reached| / Σ dist(s,t) for the nation+region "
        "hub nodes, via ONE level-synchronous multi-source BFS (join + "
        "anti-join per level for all 30 sources at once — supersteps ≤ "
        "diameter regardless of |V| or |sources|). Oracle recomputes "
        "per-pair min distances by simple-path enumeration (list-valued "
        "recursive CTE, same depth bound) — an independent formulation, so "
        "the hash match certifies the BFS distances and the aggregation. "
        "Source sampling is the standard estimator at scale, as for "
        "betweenness"
    ),
)
def graph_closeness(spark, sf_dir):
    from mimranalytics_core_spark.functions.graph_algos import closeness, undirect

    tables(spark, sf_dir)
    e = undirect(catalog.hierarchy_edges(spark, sf_dir))
    sources = (
        e.select("src")
        .filter(F.col("src").startswith("n:") | F.col("src").startswith("r:"))
        .distinct()
        .select(F.col("src").alias("node"))
    )
    return closeness(e, sources, max_depth=6)


@register(
    "graph_eccentricity",
    "graph",
    oracle=f"""
        WITH RECURSIVE {HIERARCHY_SQL.strip()},
        ue AS (SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges),
        srcs AS (SELECT DISTINCT src AS s FROM ue
                 WHERE src LIKE 'n:%' OR src LIKE 'r:%'),
        walk(s, node, path) AS (
            SELECT s, s, [s] FROM srcs
            UNION ALL
            SELECT w.s, e.dst, list_append(w.path, e.dst)
            FROM walk w JOIN ue e ON e.src = w.node
            WHERE NOT list_contains(w.path, e.dst) AND len(w.path) <= 6
        ),
        md AS (SELECT s, node, MIN(len(path) - 1) AS d
               FROM walk WHERE node != s GROUP BY s, node)
        SELECT s AS node, CAST(MAX(d) AS INTEGER) AS eccentricity
        FROM md GROUP BY s
    """,
    notes=(
        "eccentricity per hub node (README.md:28 pathfinding family — "
        "ecc(s) = max min-hop distance to any reachable node; the per-node "
        "ingredient of diameter/radius): reuses the SAME level-synchronous "
        "multi-source BFS as closeness, so the marginal cost over computing "
        "closeness is one aggregation. Depth bound 6 covers the component "
        "diameter (4). Oracle: simple-path enumeration CTE + MAX — the "
        "independent-formulation pattern shared with betweenness/closeness"
    ),
)
def graph_eccentricity(spark, sf_dir):
    from mimranalytics_core_spark.functions.graph_algos import (
        multi_source_distances,
        undirect,
    )

    tables(spark, sf_dir)
    e = undirect(catalog.hierarchy_edges(spark, sf_dir))
    sources = (
        e.select("src")
        .filter(F.col("src").startswith("n:") | F.col("src").startswith("r:"))
        .distinct()
        .select(F.col("src").alias("node"))
    )
    d = multi_source_distances(e, sources, max_depth=6)
    return (
        d.filter(F.col("node") != F.col("source"))
        .groupBy(F.col("source").alias("node"))
        .agg(F.max("dist").cast("int").alias("eccentricity"))
    )


def _kcore_oracle_sql(k: int = 12, rounds: int = 12) -> str:
    """Unrolled iterative-peel oracle for the k-core: each round induces the
    subgraph on the surviving node set, recomputes degrees, and drops nodes
    below k. Peeling is monotone, so ``rounds`` ≥ the convergence round
    makes the unrolling exact (the engine stops at the fixpoint)."""
    parts = [
        # MATERIALIZED: every peel round references sym — a plain CTE would
        # re-open the parquet per reference (fd exhaustion, the pagerank-
        # oracle lesson from round 3)
        "sym AS MATERIALIZED (SELECT DISTINCT src, dst FROM "
        "(SELECT src, dst FROM tc_edges UNION ALL SELECT dst, src FROM tc_edges))",
        "n0 AS (SELECT DISTINCT src AS node FROM sym)",
    ]
    prev = "n0"
    for i in range(1, rounds + 1):
        parts.append(
            f"e{i} AS (SELECT s.src, s.dst FROM sym s "
            f"JOIN {prev} a ON s.src = a.node JOIN {prev} b ON s.dst = b.node)"
        )
        parts.append(
            f"d{i} AS (SELECT src AS node, COUNT(*) AS deg FROM e{i} GROUP BY src)"
        )
        # MATERIALIZED: each n{{i}} is referenced twice by e{{i+1}} — an
        # inlined chain would re-evaluate the whole peel history per
        # reference (exponential blowup across 12 rounds)
        parts.append(f"n{i} AS MATERIALIZED (SELECT node FROM d{i} WHERE deg >= {k})")
        prev = f"n{i}"
    return f"""
        WITH {TRADE_CREDIT_SQL.strip()},
        {",".join(parts)},
        ef AS (SELECT s.src, s.dst FROM sym s
               JOIN {prev} a ON s.src = a.node JOIN {prev} b ON s.dst = b.node)
        SELECT src AS node, COUNT(*) AS core_deg FROM ef GROUP BY src
    """


@register(
    "graph_kcore",
    "graph",
    oracle=_kcore_oracle_sql(k=12, rounds=12),
    notes=(
        "k-core decomposition (README.md:28 — completes the NetworkX "
        "structural-analysis surface next to components/centralities): the "
        "maximal subgraph of the undirected trade-credit graph where every "
        "node keeps degree >= 12, with each survivor's in-core degree. "
        "Iterative peel-below-k to fixpoint (functions/graph_algos.kcore) — "
        "each round one induced-subgraph semi-join pair + partial-agg "
        "degree count on the shrinking alive set, <= 12 rounds. Oracle "
        "unrolls the same peel 12 rounds in DuckDB (monotone, so an early "
        "engine fixpoint is exact). Random-graph agreement vs a pure-Python "
        "reference peel in tests/test_graph_random.py"
    ),
)
def graph_kcore(spark, sf_dir):
    from mimranalytics_core_spark.functions.graph_algos import kcore

    tables(spark, sf_dir)
    e = catalog.trade_credit_edges(spark, sf_dir).select("src", "dst")
    return kcore(e, k=12, max_iter=12)


_WSSSP_SQL = """
    WITH RECURSIVE {edges},
    walk(node, cost, depth) AS (
        SELECT 'r:0' AS node, CAST(0.0 AS DOUBLE) AS cost, 0 AS depth
        UNION ALL
        SELECT e.src, w.cost + (1.0 - e.weight), w.depth + 1
        FROM walk w JOIN edges e ON e.dst = w.node
        WHERE w.depth < 3
    )
    SELECT node, FLOOR(MIN(cost) * 1e6 + 0.5) / 1e6 AS cost
    FROM walk GROUP BY node
"""


@register(
    "graph_weighted_sssp",
    "graph",
    oracle=_WSSSP_SQL.format(edges=HIERARCHY_SQL),
    notes=(
        "weighted shortest path (README.md:28 pathfinding): min-cost walks "
        "from the region root DOWN the ownership tree, edge cost = "
        "1 - ownership fraction (strong ownership = short distance); "
        "recursive CTE + MIN group-by, verbatim in both engines. The "
        "unbounded-fixpoint variant is functions/graph_algos.weighted_sssp "
        "(Bellman-Ford relaxation, fixture-tested)"
    ),
)
def graph_weighted_sssp(spark, sf_dir):
    return _sql_both(spark, sf_dir, _WSSSP_SQL.format(edges=HIERARCHY_SQL))


@register(
    "cypher_match",
    "graph",
    oracle=f"""
        WITH {HIERARCHY_SQL},
        te AS (SELECT src, dst FROM edges
               WHERE rel_type IN ('customer_of', 'nation_of')),
        h1 AS (SELECT src, dst, 1 AS hops FROM te WHERE src LIKE 'c:%'),
        h2 AS (SELECT a.src, b.dst, 2 AS hops
               FROM te a JOIN te b ON a.dst = b.src WHERE a.src LIKE 'c:%')
        SELECT DISTINCT src AS a, dst AS b, hops
        FROM (SELECT * FROM h1 UNION ALL SELECT * FROM h2)
    """,
    notes=(
        "Cypher TEXT front-end (README.md:25 — the reference store speaks "
        "Cypher, so migrating users arrive with saved query strings): a "
        "fixed reference-shaped MATCH string parsed by cypher.parse into "
        "the match_path builder (typed variable-length traversal, pushed "
        "start-node predicate). The oracle is the same typed 1..2-hop "
        "closure unrolled in SQL — proving string → parse → plan → result "
        "end-to-end, not just the builder. Full subset grammar + "
        "walk-vs-trail semantics note in mimranalytics_core_spark/cypher.py"
    ),
)
def cypher_match(spark, sf_dir):
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH (a)-[:CUSTOMER_OF|NATION_OF*1..2]->(b)
           WHERE a.id STARTS WITH 'c:' RETURN a, b, hops""",
    )


@register(
    "cypher_match_agg",
    "graph",
    oracle=f"""
        WITH {HIERARCHY_SQL},
        te AS (SELECT src, dst FROM edges
               WHERE rel_type IN ('customer_of', 'nation_of')),
        h1 AS (SELECT src, dst, 1 AS hops FROM te WHERE src LIKE 'c:%'),
        h2 AS (SELECT a.src, b.dst, 2 AS hops
               FROM te a JOIN te b ON a.dst = b.src WHERE a.src LIKE 'c:%'),
        pairs AS (SELECT DISTINCT src, dst, hops
                  FROM (SELECT * FROM h1 UNION ALL SELECT * FROM h2)),
        g AS (SELECT dst AS entity, COUNT(*) AS n_src, MIN(hops) AS min_hops
              FROM pairs GROUP BY dst)
        SELECT entity, n_src, min_hops FROM g
        ORDER BY n_src DESC, entity ASC LIMIT 20
    """,
    notes=(
        "Cypher aggregate/ORDER BY/LIMIT surface (README.md:25 — Cypher's "
        "implicit grouping: non-aggregate RETURN items are the keys): a "
        "saved-query shape 'most-connected entities' parsed from TEXT into "
        "grouped aggregation + deterministic top-k (unique entity tiebreak, "
        "so LIMIT is stable across engines). Oracle unrolls the same typed "
        "closure + GROUP BY + ORDER BY/LIMIT in SQL. Scale: the traversal "
        "is the same bounded join plan as cypher_match; the aggregation is "
        "one partial+final hash agg; top-k is TakeOrderedAndProject"
    ),
)
def cypher_match_agg(spark, sf_dir):
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH (a)-[:CUSTOMER_OF|NATION_OF*1..2]->(b)
           WHERE a.id STARTS WITH 'c:'
           RETURN b AS entity, count(*) AS n_src, min(hops) AS min_hops
           ORDER BY n_src DESC, entity ASC LIMIT 20""",
    )


@register(
    "cypher_multi_hop",
    "graph",
    oracle="""
        SELECT n.n_name AS nation, COUNT(*) AS n_suppliers
        FROM supplier s
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'EUROPE'
        GROUP BY n.n_name
        ORDER BY nation
    """,
    notes=(
        "multi-segment Cypher pattern with node properties (README.md:25 — "
        "the (a)-[:X]->(b)-[:Y]->(c) chain is the second most common saved "
        "query shape after single patterns): each segment compiles to its "
        "own bounded traversal, shared variables join the segments, and "
        "var.name/var.label resolve by equi-joining the catalog's "
        "hierarchy_nodes attribute view (the property side of the property "
        "graph). The oracle is the plain relational join the pattern "
        "denotes — proving string → multi-segment plan → property joins → "
        "implicit grouping end-to-end. Scale: narrow per-segment edge "
        "lists, equi-joins throughout, partial+final agg"
    ),
)
def cypher_multi_hop(spark, sf_dir):
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH (s)-[:SUPPLIER_OF]->(n)-[:NATION_OF]->(r)
           WHERE r.name = 'EUROPE'
           RETURN n.name AS nation, count(*) AS n_suppliers
           ORDER BY nation""",
    )


@register(
    "cypher_with_having",
    "graph",
    oracle=f"""
        WITH {HIERARCHY_SQL},
        ce AS (SELECT src, dst FROM edges WHERE rel_type = 'customer_of'),
        g AS (SELECT dst AS nation, COUNT(*) AS n_customers FROM ce GROUP BY dst)
        SELECT nation, n_customers FROM g WHERE n_customers >= 70
        ORDER BY n_customers DESC, nation ASC
    """,
    notes=(
        "Cypher WITH pipeline stage (README.md:25 — aggregate-then-filter "
        "is the canonical 'flag the big ones' saved query): WITH "
        "projects/aggregates mid-query, its WHERE filters the aggregated "
        "rows (SQL HAVING), RETURN resolves against the WITH outputs only "
        "— Cypher's pipeline scoping. Compiles to groupBy + filter + "
        "project; the filter sits above the final hash agg, exactly where "
        "HAVING belongs, so partial aggregation still runs map-side"
    ),
)
def cypher_with_having(spark, sf_dir):
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH (c)-[:CUSTOMER_OF]->(n)
           WITH n AS nation, count(*) AS n_customers
           WHERE n_customers >= 70
           RETURN nation, n_customers
           ORDER BY n_customers DESC, nation ASC""",
    )


@register(
    "cypher_optional_match",
    "graph",
    oracle=f"""
        WITH {HIERARCHY_SQL},
        te AS (SELECT src, dst FROM edges
               WHERE rel_type IN ('customer_of', 'nation_of')),
        h1 AS (SELECT src, dst FROM te WHERE src LIKE 'c:%'),
        h2 AS (SELECT a.src, b.dst
               FROM te a JOIN te b ON a.dst = b.src WHERE a.src LIKE 'c:%'),
        pairs AS (SELECT DISTINCT src, dst
                  FROM (SELECT * FROM h1 UNION ALL SELECT * FROM h2)),
        nr AS (SELECT DISTINCT src, dst FROM edges WHERE rel_type = 'nation_of')
        SELECT p.dst AS entity,
               COUNT(*) AS n_bindings,
               COUNT(nr.dst) AS n_with_region
        FROM pairs p LEFT JOIN nr ON nr.src = p.dst
        GROUP BY p.dst
    """,
    notes=(
        "OPTIONAL MATCH (README.md:25 — the left-join half of every "
        "enrichment-style saved query): x binds both nations and regions, "
        "the optional (x)-[:NATION_OF]->(r) leg matches only nations, so "
        "region bindings null-extend and count(r) skips them (Cypher "
        "semantics) while count(*) does not — both counted in one pass. "
        "Oracle is the equivalent relational LEFT JOIN + conditional "
        "count. Scale: clause frames join on bound variables as plain "
        "equi-joins; the optional leg adds one left join, no new shuffle "
        "shape"
    ),
)
def cypher_optional_match(spark, sf_dir):
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH (c)-[:CUSTOMER_OF|NATION_OF*1..2]->(x)
           OPTIONAL MATCH (x)-[:NATION_OF]->(r)
           WHERE c.id STARTS WITH 'c:'
           RETURN x AS entity, count(*) AS n_bindings, count(r) AS n_with_region""",
    )


@register(
    "cypher_with_match",
    "graph",
    oracle=f"""
        WITH {HIERARCHY_SQL},
        cn AS (SELECT dst AS nation, COUNT(*) AS n_customers
               FROM edges WHERE rel_type = 'customer_of' GROUP BY dst),
        sn AS (SELECT DISTINCT src, dst FROM edges
               WHERE rel_type = 'supplier_of')
        SELECT cn.nation, cn.n_customers, COUNT(*) AS n_suppliers
        FROM cn JOIN sn ON sn.dst = cn.nation
        GROUP BY cn.nation, cn.n_customers
        ORDER BY nation
    """,
    notes=(
        "MATCH after WITH (README.md:25 — Cypher's aggregate-then-rematch "
        "pipeline, the most common multi-stage saved-query shape): stage 1 "
        "aggregates customers per nation, WITH pipes (nation, n_customers), "
        "stage 2 re-matches suppliers joining on the piped nation variable, "
        "RETURN aggregates again over the joined frame. Compiles to "
        "groupBy → equi-join → groupBy — two partial+final hash aggs and "
        "one shuffle join, no new shuffle shape. Oracle is the equivalent "
        "two-level relational aggregation"
    ),
)
def cypher_with_match(spark, sf_dir):
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH (c)-[:CUSTOMER_OF]->(n)
           WITH n AS nation, count(*) AS n_customers
           MATCH (s)-[:SUPPLIER_OF]->(nation)
           RETURN nation, n_customers, count(*) AS n_suppliers
           ORDER BY nation""",
    )


@register(
    "cypher_pipeline_chain",
    "graph",
    oracle=f"""
        WITH {HIERARCHY_SQL},
        cn AS (SELECT dst AS nation, COUNT(*) AS n_customers
               FROM edges WHERE rel_type = 'customer_of' GROUP BY dst),
        sn AS (SELECT DISTINCT src, dst FROM edges
               WHERE rel_type = 'supplier_of'),
        j AS (SELECT cn.nation, cn.n_customers, COUNT(*) AS n_suppliers
              FROM cn JOIN sn ON sn.dst = cn.nation
              GROUP BY cn.nation, cn.n_customers),
        nr AS (SELECT DISTINCT src, dst FROM edges
               WHERE rel_type = 'nation_of')
        SELECT j.nation, j.n_customers, j.n_suppliers, nr.dst AS region
        FROM j JOIN nr ON nr.src = j.nation
        WHERE j.n_suppliers >= 1
        ORDER BY nation
    """,
    notes=(
        "CHAINED Cypher pipeline (README.md:25 — real saved Cypher strings "
        "chain WITH stages: MATCH…WITH…MATCH…WITH…MATCH…RETURN): stage 0 "
        "counts customers per nation, pipe 1 re-matches suppliers, pipe 2 "
        "re-aggregates with a HAVING filter and re-matches the region leg "
        "onto the twice-aggregated frame. Exercises the general "
        "pipeline scanner (any number of pipes, per-stage scoping — "
        "earlier scopes expire exactly as in Cypher). Compiles to "
        "groupBy → join → groupBy → filter → join: two partial+final "
        "aggs and two dimension-sized equi-joins, no new shuffle shape. "
        "Oracle is the equivalent staged relational aggregation"
    ),
)
def cypher_pipeline_chain(spark, sf_dir):
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH (c)-[:CUSTOMER_OF]->(n)
           WITH n AS nation, count(*) AS n_customers
           MATCH (s)-[:SUPPLIER_OF]->(nation)
           WITH nation, n_customers, count(*) AS n_suppliers
           WHERE n_suppliers >= 1
           MATCH (nation)-[:NATION_OF]->(r)
           RETURN nation, n_customers, n_suppliers, r AS region
           ORDER BY nation""",
    )


@register(
    "cypher_trail_cycle",
    "graph",
    oracle=f"""
        WITH RECURSIVE {TRADE_CREDIT_SQL.strip()},
        trail(src, node, epath, hops) AS (
            SELECT src, dst, [src || '>' || dst], 1
            FROM tc_edges WHERE src LIKE 'c:%'
            UNION ALL
            SELECT t.src, e.dst, list_append(t.epath, e.src || '>' || e.dst),
                   t.hops + 1
            FROM trail t JOIN tc_edges e ON e.src = t.node
            WHERE t.hops < 4
              AND NOT list_contains(t.epath, e.src || '>' || e.dst)
        )
        SELECT src AS a, node AS b, COUNT(*) AS n_trails,
               CAST(MIN(hops) AS INTEGER) AS min_hops
        FROM trail WHERE hops >= 2
        GROUP BY src, node
    """,
    notes=(
        "Cypher TRAIL semantics on a CYCLIC graph (README.md:25 — Neo4j's "
        "*min..max enforces relationship uniqueness per path; the one place "
        "walk closure would return a DIFFERENT answer to a migrated query): "
        "variable-length pattern over the bounded trade-credit digraph, one "
        "row per trail, Cypher's implicit grouping counting trails per "
        "(a, b). The engine enforces edge uniqueness with a row-local "
        "array-membership guard on the accumulated edge-key list (no extra "
        "shuffle — functions/graph_algos.path_rows); the oracle enumerates "
        "the same trails with a list-valued recursive CTE and an edge NOT "
        "IN path check. Walk closure provably differs on this fixture "
        "(strictly more paths — asserted in tests/test_api.py)"
    ),
)
def cypher_trail_cycle(spark, sf_dir):
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH (a)-[:BUYS_FROM|CO_LOCATED*2..4]->(b)
           WHERE a.id STARTS WITH 'c:'
           RETURN a, b, count(*) AS n_trails, min(hops) AS min_hops""",
        graph="trade_credit",
    )


@register(
    "cypher_shortest_path",
    "graph",
    oracle=f"""
        WITH RECURSIVE {TRADE_CREDIT_SQL.strip()},
        walk(src, node, hops) AS (
            SELECT src, dst, 1 FROM tc_edges WHERE src LIKE 'c:%'
            UNION
            SELECT w.src, e.dst, w.hops + 1
            FROM walk w JOIN tc_edges e ON e.src = w.node
            WHERE w.hops < 4
        )
        SELECT src AS a, node AS b, CAST(MIN(hops) AS INTEGER) AS hops
        FROM walk WHERE node <> src
        GROUP BY src, node
    """,
    notes=(
        "Cypher shortestPath() (README.md:28 — pathfinding is a headline "
        "capability; this makes it reachable from a QUERY STRING, not just "
        "the programmatic bfs surface): MATCH p = shortestPath((a)-[*1..4]"
        "->(b)) compiles onto the level-synchronous multi-source BFS "
        "(functions/graph_algos.multi_source_distances — one join + "
        "anti-join per level for ALL sources at once, no path enumeration; "
        "supersteps = hop bound at any |V|). length(p) resolves to the "
        "min-hop distance. Self-pairs are excluded (their min distance is "
        "0, the empty path). Oracle: deduping recursive-UNION walk closure "
        "+ MIN per pair — the graph_shortest_path oracle pattern on the "
        "cyclic fixture"
    ),
)
def cypher_shortest_path(spark, sf_dir):
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH p = shortestPath((a)-[:BUYS_FROM|CO_LOCATED*1..4]->(b))
           WHERE a.id STARTS WITH 'c:'
           RETURN a, b, length(p) AS hops""",
        graph="trade_credit",
    )


@register(
    "cypher_all_shortest_paths",
    "graph",
    oracle=f"""
        WITH RECURSIVE {TRADE_CREDIT_SQL.strip()},
        walk(src, node, hops) AS (
            SELECT src, dst, 1 FROM tc_edges WHERE src LIKE 'c:%'
            UNION ALL
            SELECT w.src, e.dst, w.hops + 1
            FROM walk w JOIN tc_edges e ON e.src = w.node
            WHERE w.hops < 3
        ),
        m AS (SELECT src, node, MIN(hops) AS mh FROM walk
              WHERE node <> src GROUP BY src, node)
        SELECT w.src AS a, w.node AS b, CAST(m.mh AS INT) AS hops,
               COUNT(*) AS n_paths
        FROM walk w JOIN m ON w.src = m.src AND w.node = m.node
                          AND w.hops = m.mh
        GROUP BY w.src, w.node, m.mh
    """,
    notes=(
        "Cypher allShortestPaths() (README.md:28 pathfinding — the σ side "
        "of the headline capability): one row per shortest path, Cypher's "
        "implicit grouping counting them per pair. σ comes from the "
        "Brandes FORWARD phase (functions/graph_algos.multi_source_sigma): "
        "level-synchronous BFS summing path counts over predecessors — no "
        "path enumeration anywhere in the engine (supersteps = hop bound "
        "at any graph size); the per-path row stream is reconstructed "
        "row-locally by exploding a 1..σ sequence. Oracle enumerates the "
        "bounded walks in DuckDB and counts the min-length ones per pair — "
        "min-hop walks never repeat nodes, so the walk count IS σ. The "
        "independent formulations make the hash match certify the σ "
        "recurrence itself"
    ),
)
def cypher_all_shortest_paths(spark, sf_dir):
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH p = allShortestPaths((a)-[:BUYS_FROM|CO_LOCATED*1..3]->(b))
           WHERE a.id STARTS WITH 'c:'
           RETURN a, b, length(p) AS hops, count(*) AS n_paths""",
        graph="trade_credit",
    )


@register(
    "graph_scc",
    "graph",
    oracle=f"""
        WITH RECURSIVE {TRADE_CREDIT_SQL.strip()},
        e AS (SELECT src, dst FROM tc_edges),
        reach(src, dst) AS (
            SELECT src, dst FROM e
            UNION
            SELECT r.src, e2.dst FROM reach r JOIN e e2 ON e2.src = r.dst
        ),
        nodes AS (SELECT DISTINCT src AS node FROM e
                  UNION SELECT DISTINCT dst FROM e),
        mutual AS (
            SELECT a.src AS node, a.dst AS peer
            FROM reach a JOIN reach b ON b.src = a.dst AND b.dst = a.src
        )
        SELECT n.node AS node,
               COALESCE(LEAST(MIN(m.peer), n.node), n.node) AS scc_id
        FROM nodes n LEFT JOIN mutual m ON m.node = n.node
        GROUP BY n.node
    """,
    notes=(
        "strongly connected components on the cyclic trade-credit fixture "
        "(README.md:15 circular-ownership rings, generalized from pairwise "
        "cycle detection to full ring membership): scc_id(v) = min node "
        "mutually reachable with v. Set-semantics closure (distinct per "
        "superstep, NOT walk enumeration — terminates on cycles) via the "
        "Pregel harness; the closure pair-set is bounded by the declared "
        "subgraph (|V|^2 <= ~10k). Oracle: DuckDB recursive UNION-distinct "
        "closure + identical min-mutual-reach formula. Within "
        "graph_snapshot.MAX_EDGES the same 13-hop closure runs in-process "
        "on the snapshot's edge arrays (scc_kernel: graph_kernels."
        "reach_closure), so the op starts no job; scc_spark stays the "
        "scale path"
    ),
)
def graph_scc(spark, sf_dir):
    tables(spark, sf_dir)
    g = graph_snapshot.arrays(spark, sf_dir, "trade_credit")
    if g is not None:
        return graph_snapshot.frame(spark, scc_kernel(*g[:3]))
    return scc_spark(catalog.trade_credit_edges(spark, sf_dir))


def scc_kernel(nodes, src, dst) -> dict:
    """:func:`scc_spark`'s columns on the snapshot's edge arrays: the same
    13-hop closure (the edges plus 12 extension supersteps)."""
    n = len(nodes)
    reach = gk.reach_closure(n, src, dst, max_hops=13)
    a, b = reach // n, reach % n
    mutual = np.isin(b * n + a, reach)
    scc = np.arange(n)
    np.minimum.at(scc, a[mutual], b[mutual])
    return {"node": nodes, "scc_id": nodes.take(scc)}


def scc_spark(edges):
    """graph_scc's Spark path over a (src, dst, ...) edge frame."""
    e = edges.select("src", "dst").localCheckpoint(eager=True)  # scanned every superstep

    def step(reach):
        # closure by single-edge extension. Recursive DOUBLING (reach ⋈
        # reach) was A/B'd and rejected: on this near-complete closure the
        # squaring join emits ~|V|³ intermediate rows per superstep (88³ ≈
        # 0.7M) — fewer supersteps, each far wider; edge extension joins
        # the frontier against ~|E| rows only (3.9 s vs 2.8 s warm at
        # sf0.1). Doubling wins on long-diameter sparse closures, not
        # dense ring components.
        ext = (
            reach.alias("r")
            .join(e.alias("e2"), F.col("e2.src") == F.col("r.dst"))
            .select(F.col("r.src").alias("src"), F.col("e2.dst").alias("dst"))
        )
        # folded flag: tag carried-over pairs; the dedupe aggregate then
        # knows which survivors are NEW (no tagged twin)
        mine = reach.select("src", "dst", F.lit(True).alias("__self"))
        return (
            mine.unionByName(ext.withColumn("__self", F.lit(False)))
            .groupBy("src", "dst")
            .agg(F.max("__self").alias("__existed"))
            .select(
                "src", "dst", (~F.col("__existed")).alias(CHANGED_COL)
            )
        )

    reach = iterate_fixpoint(e, step, max_iter=12, state_partitions=8)
    a = reach.alias("a")
    b = reach.alias("b")
    mutual = a.join(
        b,
        (F.col("b.src") == F.col("a.dst")) & (F.col("b.dst") == F.col("a.src")),
    ).select(F.col("a.src").alias("node"), F.col("a.dst").alias("peer"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    return (
        nodes.join(mutual, "node", "left")
        .groupBy("node")
        .agg(F.min("peer").alias("min_peer"))
        .select(
            "node",
            F.coalesce(F.least(F.col("min_peer"), F.col("node")), F.col("node")).alias("scc_id"),
        )
    )


@register(
    "graph_clustering_coeff",
    "graph",
    oracle="""
        WITH su AS (
            SELECT DISTINCT l_suppkey AS supp, l_partkey AS part
            FROM lineitem WHERE l_suppkey < 50
        ),
        ss AS (
            SELECT DISTINCT a.supp AS s1, b.supp AS s2
            FROM su a JOIN su b ON a.part = b.part AND a.supp < b.supp
        ),
        sym AS (SELECT s1 AS v, s2 AS w FROM ss
                UNION ALL SELECT s2, s1 FROM ss),
        deg AS (SELECT v, COUNT(*) AS degree FROM sym GROUP BY v),
        tri AS (
            SELECT w1.v AS v, COUNT(*) AS triangles
            FROM sym w1
            JOIN sym w2 ON w2.v = w1.v AND w1.w < w2.w
            JOIN ss e ON e.s1 = w1.w AND e.s2 = w2.w
            GROUP BY w1.v
        )
        SELECT d.v AS node, d.degree AS degree,
               COALESCE(t.triangles, 0) AS triangles,
               CASE WHEN d.degree >= 2
                    THEN FLOOR((2.0 * COALESCE(t.triangles, 0)
                                / (d.degree * (d.degree - 1.0))) * 1000000.0 + 0.5)
                         / 1000000.0
                    ELSE 0.0 END AS clustering_coeff
        FROM deg d LEFT JOIN tri t ON t.v = d.v
    """,
    notes=(
        "local clustering coefficient (README.md:28 NetworkX centrality "
        "surface) on the supplier co-part projection: wedge join (v's "
        "ordered neighbor pairs) semi-checked against the edge set — the "
        "node-iterator triangle algorithm. Scale: at 100 TB the wedge join "
        "is bounded by orienting edges low-degree->high (the ss s1<s2 "
        "orientation already halves it); all stages are joins/partial aggs "
        "on the edge key, no path enumeration"
    ),
)
def graph_clustering_coeff(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_suppkey") < 50)
    su = li.select(F.col("l_suppkey").alias("supp"), F.col("l_partkey").alias("part")).distinct()
    a = su.alias("a")
    b = su.alias("b")
    ss = (
        a.join(b, (F.col("a.part") == F.col("b.part")) & (F.col("a.supp") < F.col("b.supp")))
        .select(F.col("a.supp").alias("s1"), F.col("b.supp").alias("s2"))
        .distinct()
    )
    sym = ss.select(F.col("s1").alias("v"), F.col("s2").alias("w")).unionByName(
        ss.select(F.col("s2").alias("v"), F.col("s1").alias("w"))
    )
    deg = sym.groupBy("v").agg(F.count("*").alias("degree"))
    w1 = sym.alias("w1")
    w2 = sym.alias("w2")
    e = ss.alias("e")
    tri = (
        w1.join(w2, (F.col("w2.v") == F.col("w1.v")) & (F.col("w1.w") < F.col("w2.w")))
        .join(e, (F.col("e.s1") == F.col("w1.w")) & (F.col("e.s2") == F.col("w2.w")))
        .groupBy(F.col("w1.v").alias("v"))
        .agg(F.count("*").alias("triangles"))
    )
    coeff = F.when(
        F.col("degree") >= 2,
        F.floor(
            (2.0 * F.coalesce(F.col("triangles"), F.lit(0)) / (F.col("degree") * (F.col("degree") - 1.0)))
            * 1e6
            + F.lit(0.5)
        )
        / 1e6,
    ).otherwise(F.lit(0.0))
    return (
        deg.join(tri, "v", "left")
        .select(
            F.col("v").alias("node"),
            "degree",
            F.coalesce("triangles", F.lit(0)).alias("triangles"),
            coeff.alias("clustering_coeff"),
        )
    )


@register(
    "graph_bipartite_project",
    "graph",
    oracle="""
        WITH cs AS (
            SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey AS supp
            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
            WHERE l.l_suppkey < 50
        )
        SELECT a.supp AS s1, b.supp AS s2,
               CAST(COUNT(*) AS BIGINT) AS shared_customers
        FROM cs a JOIN cs b ON a.cust = b.cust AND a.supp < b.supp
        GROUP BY a.supp, b.supp
        HAVING COUNT(*) >= 3
    """,
    notes=(
        "weighted one-mode projection of the customer-supplier bipartite "
        "graph (README.md:11 N-tier relationship mapping): suppliers linked "
        "by the number of shared customers, thresholded (>=3) to the "
        "significant co-purchase edges. The self-join on the bounded side "
        "(cust) with s1<s2 orientation + partial agg is the standard "
        "projection shape; at 100 TB the skew guard is capping the "
        "per-customer supplier list (hub customers would otherwise emit "
        "deg^2 pairs) — the same cap discipline as the LSH band buckets"
    ),
)
def graph_bipartite_project(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_suppkey") < 50)
    cs = (
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(F.col("o_custkey").alias("cust"), F.col("l_suppkey").alias("supp"))
        .distinct()
    )
    a = cs.alias("a")
    b = cs.alias("b")
    return (
        a.join(b, (F.col("a.cust") == F.col("b.cust")) & (F.col("a.supp") < F.col("b.supp")))
        .groupBy(F.col("a.supp").alias("s1"), F.col("b.supp").alias("s2"))
        .agg(F.count("*").alias("shared_customers"))
        .filter(F.col("shared_customers") >= 3)
    )


@register(
    "graph_random_walks",
    "graph",
    oracle=f"""
        WITH RECURSIVE {TRADE_CREDIT_SQL.strip()},
        e AS (SELECT DISTINCT src, dst FROM tc_edges),
        nbr AS (
            SELECT src, dst,
                   ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) AS rn,
                   COUNT(*) OVER (PARTITION BY src) AS deg
            FROM e
        ),
        seeds AS (
            SELECT DISTINCT src AS seed FROM e
            WHERE src LIKE 'c:%' AND CAST(substr(src, 3) AS INT) < 20
        ),
        walk(seed, step, node) AS (
            SELECT seed, 0, seed FROM seeds
            UNION ALL
            SELECT w.seed, w.step + 1, n.dst
            FROM walk w
            JOIN nbr n ON n.src = w.node
             AND n.rn = (('0x' || substr(md5(w.seed || ':' || w.node || ':' || w.step), 1, 8))::BIGINT
                         % n.deg) + 1
            WHERE w.step < 5
        )
        SELECT seed, step, node FROM walk
    """,
    notes=(
        "DETERMINISTIC random-walk sampling (the node2vec/DeepWalk corpus "
        "generator, made reproducible): next hop = md5(seed:node:step)-"
        "derived index into the sorted neighbor list — a seeded hash walk, "
        "so reruns and engines agree bit-for-bit (the property a training "
        "pipeline needs for restartable sampling; true RNG walks cannot be "
        "oracle-checked or resumed). 5 fixed unrolled steps: each is one "
        "join frontier⋈neighbors — at 100 TB walk state is (seed, node) "
        "pairs hashed on node, the same superstep shape as BFS; the "
        "neighbor rank/deg table is computed once. md5-hex→BIGINT parity "
        "with DuckDB proven by the simhash family"
    ),
)
def graph_random_walks(spark, sf_dir):
    tables(spark, sf_dir)
    e = catalog.trade_credit_edges(spark, sf_dir).select("src", "dst").distinct()
    wsp = Window.partitionBy("src")
    nbr = e.select(
        "src",
        "dst",
        F.row_number().over(wsp.orderBy("dst")).alias("rn"),
        F.count("*").over(wsp).alias("deg"),
    ).localCheckpoint(eager=True)
    seeds = (
        e.filter(
            F.col("src").startswith("c:")
            & (F.substring("src", 3, 10).cast("int") < 20)
        )
        .select(F.col("src").alias("seed"))
        .distinct()
    )
    walk = seeds.select("seed", F.lit(0).alias("step"), F.col("seed").alias("node"))
    out = walk
    for _ in range(5):
        pick = (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("w.seed"),
                            F.lit(":"),
                            F.col("w.node"),
                            F.lit(":"),
                            F.col("w.step").cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % F.col("n.deg")
            + 1
        )
        walk = (
            walk.alias("w")
            .join(nbr.alias("n"), (F.col("n.src") == F.col("w.node")) & (F.col("n.rn") == pick))
            .select(
                F.col("w.seed").alias("seed"),
                (F.col("w.step") + 1).alias("step"),
                F.col("n.dst").alias("node"),
            )
        )
        out = out.unionByName(walk)
    return out


def _hits_oracle_sql(iters: int = 10) -> str:
    """Unrolled HITS oracle: each iteration is an in/out aggregation plus an
    L1 window normalization. MATERIALIZED per step — the kcore-oracle
    lesson (inlined chains re-open the parquet per reference)."""
    parts = [
        "e AS MATERIALIZED (SELECT DISTINCT src, dst FROM tc_edges)",
        "nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM e "
        "UNION SELECT DISTINCT dst FROM e)",
        "ht0 AS (SELECT node, 1.0 AS v FROM nodes)",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"ar{i} AS (SELECT n.node, COALESCE(SUM(h.v), 0.0) AS v "
            f"FROM nodes n LEFT JOIN e ON e.dst = n.node "
            f"LEFT JOIN ht{i - 1} h ON h.node = e.src GROUP BY n.node)"
        )
        parts.append(
            f"at{i} AS MATERIALIZED (SELECT node, v / SUM(v) OVER () AS v FROM ar{i})"
        )
        parts.append(
            f"hr{i} AS (SELECT n.node, COALESCE(SUM(a.v), 0.0) AS v "
            f"FROM nodes n LEFT JOIN e ON e.src = n.node "
            f"LEFT JOIN at{i} a ON a.node = e.dst GROUP BY n.node)"
        )
        parts.append(
            f"ht{i} AS MATERIALIZED (SELECT node, v / SUM(v) OVER () AS v FROM hr{i})"
        )
    return f"""
        WITH {TRADE_CREDIT_SQL.strip()},
        {",".join(parts)}
        SELECT n.node AS node,
               FLOOR(h.v * 1000000.0 + 0.5) / 1000000.0 AS hub,
               FLOOR(a.v * 1000000.0 + 0.5) / 1000000.0 AS authority
        FROM nodes n
        JOIN ht{iters} h ON h.node = n.node
        JOIN at{iters} a ON a.node = n.node
    """


@register(
    "graph_hits",
    "graph",
    oracle=_hits_oracle_sql(10),
    notes=(
        "HITS hub/authority centrality (Kleinberg 1999; NetworkX surface, "
        "README.md:28) on the trade-credit digraph — hubs = customers "
        "whose purchases span well-connected suppliers, authorities = "
        "suppliers co-located with active buyers. 10 fixed iterations, each "
        "two half-steps of the power family's shared A*x kernel "
        "(graph_algos._spmv) L1-normalized by a broadcast scalar folded "
        "into the plan (the pagerank dangling-mass pattern). Oracle: fully "
        "unrolled 20-step CTE with window-SUM normalization, hash-exact at "
        "6 digits"
    ),
)
def graph_hits(spark, sf_dir):
    from mimranalytics_core_spark.functions.graph_algos import hits

    tables(spark, sf_dir)
    e = catalog.trade_credit_edges(spark, sf_dir).select("src", "dst")
    res = hits(e, iters=10, state_partitions=8)
    return res.select(
        "node",
        (F.floor(F.col("hub") * 1e6 + F.lit(0.5)) / 1e6).alias("hub"),
        (F.floor(F.col("authority") * 1e6 + F.lit(0.5)) / 1e6).alias("authority"),
    )


@register(
    "graph_assortativity",
    "graph",
    oracle="""
        WITH e AS (SELECT DISTINCT src, dst FROM (
            SELECT 'c:' || o.o_custkey AS src, 's:' || l.l_suppkey AS dst
            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
            WHERE o.o_custkey < 200 AND l.l_suppkey < 200
        )),
        sym AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
        deg AS (SELECT src AS node, COUNT(*) AS d FROM sym GROUP BY src)
        SELECT FLOOR(corr(ds.d, dd.d) * 1000000.0 + 0.5) / 1000000.0
                   AS assortativity,
               CAST(COUNT(*) AS BIGINT) AS n_edges
        FROM sym
        JOIN deg ds ON ds.node = sym.src
        JOIN deg dd ON dd.node = sym.dst
    """,
    notes=(
        "degree assortativity (Newman 2002; NetworkX parity, README.md:28) "
        "of the buys-from graph: Pearson correlation of endpoint degrees "
        "over the symmetrized edge list — do high-degree customers buy "
        "from high-degree suppliers? corr's sufficient statistics are "
        "mergeable; the degree table is a partial agg broadcast back onto "
        "edges — two narrow shuffles at any scale"
    ),
)
def graph_assortativity(spark, sf_dir):
    o = t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 200)
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_suppkey") < 200)
    e = (
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            F.concat(F.lit("c:"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s:"), F.col("l_suppkey")).alias("dst"),
        )
        .distinct()
    )
    sym = e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    deg = sym.groupBy(F.col("src").alias("node")).agg(F.count("*").alias("d"))
    ds = deg.select(F.col("node").alias("src"), F.col("d").alias("d_src"))
    dd = deg.select(F.col("node").alias("dst"), F.col("d").alias("d_dst"))
    return (
        sym.join(F.broadcast(ds), "src")
        .join(F.broadcast(dd), "dst")
        .agg(
            (F.floor(F.corr("d_src", "d_dst") * 1e6 + F.lit(0.5)) / 1e6).alias("assortativity"),
            F.count("*").alias("n_edges"),
        )
    )


@register(
    "graph_butterfly_count",
    "graph",
    oracle="""
        WITH cs AS (
            SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey AS supp
            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
            WHERE l.l_suppkey < 50
        ),
        wedges AS (
            SELECT a.supp AS s1, b.supp AS s2,
                   CAST(COUNT(*) AS BIGINT) AS shared
            FROM cs a JOIN cs b ON a.cust = b.cust AND a.supp < b.supp
            GROUP BY a.supp, b.supp
        )
        SELECT s1, s2, shared,
               CAST(shared * (shared - 1) // 2 AS BIGINT) AS butterflies
        FROM wedges
        WHERE shared >= 2
    """,
    notes=(
        "butterfly (2x2 biclique / 4-cycle) counting on the customer-"
        "supplier bipartite graph — the bipartite clustering primitive "
        "(Wang et al., public): supplier pairs sharing c customers form "
        "C(c,2) butterflies. Counted from the wedge aggregate, never by "
        "4-path enumeration — the per-pair combinatorial identity is what "
        "makes butterfly counting feasible at scale; hub-vertex wedge "
        "blowup is the known hazard (cap/sample hubs, the LSH bucket "
        "discipline)"
    ),
)
def graph_butterfly_count(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_suppkey") < 50)
    cs = (
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(F.col("o_custkey").alias("cust"), F.col("l_suppkey").alias("supp"))
        .distinct()
    )
    a = cs.alias("a")
    b = cs.alias("b")
    wedges = (
        a.join(b, (F.col("a.cust") == F.col("b.cust")) & (F.col("a.supp") < F.col("b.supp")))
        .groupBy(F.col("a.supp").alias("s1"), F.col("b.supp").alias("s2"))
        .agg(F.count("*").alias("shared"))
    )
    return wedges.filter(F.col("shared") >= 2).select(
        "s1",
        "s2",
        "shared",
        (F.col("shared") * (F.col("shared") - 1) / 2).cast("long").alias("butterflies"),
    )


@register(
    "graph_ego_edges",
    "graph",
    oracle=f"""
        WITH {TRADE_CREDIT_SQL.strip()},
        e AS (SELECT DISTINCT src, dst FROM tc_edges),
        sym AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
        n1 AS (SELECT DISTINCT dst AS node FROM sym WHERE src = 'c:1'),
        n2 AS (SELECT DISTINCT s.dst AS node FROM sym s JOIN n1 ON n1.node = s.src),
        ego AS (SELECT 'c:1' AS node UNION SELECT node FROM n1
                UNION SELECT node FROM n2)
        SELECT e.src, e.dst FROM e
        JOIN ego a ON a.node = e.src
        JOIN ego b ON b.node = e.dst
    """,
    notes=(
        "2-hop ego-network extraction for one entity (the README.md:11 "
        "interactive expand-around-a-company view, materialized as a "
        "dataset): undirected 2-hop neighborhood, then the INDUCED "
        "directed edge set — two frontier joins + two semi-join "
        "restrictions, no path enumeration; the frontier is bounded by "
        "the declared subgraph (and by branching-factor caps at corpus "
        "scale, as for khop)"
    ),
)
def graph_ego_edges(spark, sf_dir):
    tables(spark, sf_dir)
    e = catalog.trade_credit_edges(spark, sf_dir).select("src", "dst").distinct()
    sym = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).distinct()
    n1 = sym.filter(F.col("src") == "c:1").select(F.col("dst").alias("node")).distinct()
    n2 = (
        sym.join(n1.withColumnRenamed("node", "f"), F.col("src") == F.col("f"))
        .select(F.col("dst").alias("node"))
        .distinct()
    )
    ego = (
        spark.createDataFrame([("c:1",)], "node STRING")
        .union(n1)
        .union(n2)
        .distinct()
        .localCheckpoint(eager=True)
    )
    return (
        e.join(ego.withColumnRenamed("node", "s"), F.col("src") == F.col("s"))
        .join(ego.withColumnRenamed("node", "d"), F.col("dst") == F.col("d"))
        .select("src", "dst")
    )


@register(
    "graph_reciprocity",
    "graph",
    oracle=f"""
        WITH {TRADE_CREDIT_SQL.strip()},
        e AS (SELECT DISTINCT src, dst FROM tc_edges)
        SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
               CAST(SUM(CASE WHEN EXISTS (
                   SELECT 1 FROM e r WHERE r.src = e.dst AND r.dst = e.src
               ) THEN 1 ELSE 0 END) AS BIGINT) AS n_reciprocal,
               FLOOR(SUM(CASE WHEN EXISTS (
                   SELECT 1 FROM e r WHERE r.src = e.dst AND r.dst = e.src
               ) THEN 1 ELSE 0 END) * 1.0 / COUNT(*) * 1000000.0 + 0.5)
                   / 1000000.0 AS reciprocity
        FROM e
    """,
    notes=(
        "edge reciprocity of the trade-credit digraph (share of directed "
        "edges with a reverse edge — the mutual-dependency indicator for "
        "circular-exposure screening, README.md:15): one self-semi-join "
        "on the reversed key + a global roll-up; the semi join hashes on "
        "the edge key, nothing quadratic"
    ),
)
def graph_reciprocity(spark, sf_dir):
    tables(spark, sf_dir)
    e = (
        catalog.trade_credit_edges(spark, sf_dir)
        .select("src", "dst")
        .distinct()
        .localCheckpoint(eager=True)  # scanned twice: base + reversed probe
    )
    rev = e.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"), F.lit(1).alias("m")
    )
    # marker left-join + single aggregate: the whole metric stays in the
    # plan (no driver-side counts)
    return (
        e.join(rev, ["src", "dst"], "left")
        .agg(
            F.count("*").alias("n_edges"),
            F.coalesce(F.sum("m"), F.lit(0)).alias("n_reciprocal"),
            (
                F.floor(
                    F.coalesce(F.sum("m"), F.lit(0)) * 1.0 / F.count("*") * 1e6
                    + F.lit(0.5)
                )
                / 1e6
            ).alias("reciprocity"),
        )
    )


@register(
    "graph_harmonic",
    "graph",
    oracle=f"""
        WITH RECURSIVE {HIERARCHY_SQL.strip()},
        ue AS (SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges),
        srcs AS (SELECT DISTINCT src AS s FROM ue
                 WHERE src LIKE 'n:%' OR src LIKE 'r:%'),
        walk(s, node, path) AS (
            SELECT s, s, [s] FROM srcs
            UNION ALL
            SELECT w.s, e.dst, list_append(w.path, e.dst)
            FROM walk w JOIN ue e ON e.src = w.node
            WHERE NOT list_contains(w.path, e.dst) AND len(w.path) <= 6
        ),
        md AS (SELECT s, node, MIN(len(path) - 1) AS d
               FROM walk WHERE node != s GROUP BY s, node)
        SELECT s AS node,
               FLOOR(SUM(FLOOR(1e9 / d + 0.5) / 1e9) * 1e6 + 0.5) / 1e6
                   AS harmonic
        FROM md GROUP BY s
    """,
    notes=(
        "harmonic centrality (README.md:28 'centrality' — the "
        "disconnected-robust closeness variant NetworkX ships next to "
        "closeness): H(s) = sum over reached t of 1/dist(s,t) for the "
        "nation+region hub nodes. Reuses the SAME level-synchronous "
        "multi-source BFS as closeness/eccentricity — marginal cost over "
        "those is one aggregation; at 100 TB the hub set is the standard "
        "sampled-source estimator. Per-term 1/d is dround'd to 9 digits "
        "BEFORE the sum in both engines (distances are small ints, so the "
        "reciprocals are bit-identical and the sum is over identical "
        "addends; final dround 6)"
    ),
)
def graph_harmonic(spark, sf_dir):
    from mimranalytics_core_spark.functions.graph_algos import (
        multi_source_distances,
        undirect,
    )

    tables(spark, sf_dir)
    e = undirect(catalog.hierarchy_edges(spark, sf_dir))
    sources = (
        e.select("src")
        .filter(F.col("src").startswith("n:") | F.col("src").startswith("r:"))
        .distinct()
        .select(F.col("src").alias("node"))
    )
    d = multi_source_distances(e, sources, max_depth=6)
    term = F.floor(F.lit(1e9) / F.col("dist") + F.lit(0.5)) / F.lit(1e9)
    return (
        d.filter(F.col("node") != F.col("source"))
        .groupBy(F.col("source").alias("node"))
        .agg((F.floor(F.sum(term) * 1e6 + F.lit(0.5)) / 1e6).alias("harmonic"))
    )


def _katz_oracle_sql(iters: int = 4, alpha: float = 0.1) -> str:
    """Unrolled truncated-Katz oracle: x0 = 1; x_{k+1}(v) = 1 + alpha *
    sum over incoming u->v of x_k(u) — the same plain join+aggregate per
    iteration as the pagerank oracle (graph.py:341), minus damping/dangling
    bookkeeping. MATERIALIZED per level (the doubly-referenced-CTE lesson,
    NOTES_r4.md)."""
    steps = []
    prev = "x0"
    for k in range(1, iters + 1):
        steps.append(
            f"""
        i{k} AS (SELECT e.dst AS node, SUM(x.v) AS inflow
                 FROM e JOIN {prev} x ON e.src = x.node GROUP BY e.dst),
        x{k} AS MATERIALIZED (SELECT n.node,
                        1.0 + {alpha} * COALESCE(i{k}.inflow, 0.0) AS v
                 FROM nodes n LEFT JOIN i{k} ON n.node = i{k}.node)"""
        )
        prev = f"x{k}"
    return f"""
        WITH {HIERARCHY_SQL},
        e AS MATERIALIZED (SELECT src, dst FROM edges),
        nodes AS MATERIALIZED (SELECT DISTINCT node FROM
                  (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
        x0 AS (SELECT node, 1.0 AS v FROM nodes),
        {",".join(steps)}
        SELECT node, FLOOR(v * 1e6 + 0.5) / 1e6 AS katz FROM {prev}
    """


@register(
    "graph_katz",
    "graph",
    oracle=_katz_oracle_sql(iters=4, alpha=0.1),
    notes=(
        "Katz centrality (README.md:28 'centrality' — the walk-counting "
        "influence measure NetworkX ships alongside pagerank): truncated "
        "series x(v) = sum over k<=4 of alpha^k * |walks of length k ending "
        "at v| on the ownership digraph, computed by graph_algos.katz as 4 "
        "fixed x -> 1 + alpha*A'x sweeps of the power family's shared A*x "
        "kernel (each one join + partial-agg shuffle on dst — the pagerank "
        "superstep, so the 100 TB posture is identical: bucket edges on "
        "src, state on node). Oracle unrolls the "
        "same recurrence as 4 CTE pairs in DuckDB"
    ),
)
def graph_katz(spark, sf_dir):
    from mimranalytics_core_spark.functions.graph_algos import katz

    tables(spark, sf_dir)
    e = catalog.hierarchy_edges(spark, sf_dir).select("src", "dst")
    return katz(e, iters=4, alpha=0.1).select(
        "node", (F.floor(F.col("katz") * 1e6 + F.lit(0.5)) / 1e6).alias("katz")
    )


def _lpa_cte_sql(iters: int = 4) -> str:
    """Unrolled synchronous label propagation: l0 = own id; each round every
    node adopts the most frequent neighbor label, ties broken by MIN label,
    isolated nodes keep theirs. Integer counts + string labels end to end —
    no float anywhere, so the hash is exact by construction. Returns the
    CTE chain ending in ``lpa(node, community)`` so dependent oracles
    (modularity) can build on the same fixpoint."""
    steps = []
    prev = "l0"
    for k in range(1, iters + 1):
        steps.append(
            f"""
        c{k} AS (SELECT ue.dst AS node, l.label, COUNT(*) AS cnt
                 FROM ue JOIN {prev} l ON ue.src = l.node
                 GROUP BY ue.dst, l.label),
        p{k} AS (SELECT node, label FROM (
                     SELECT node, label, ROW_NUMBER() OVER (
                         PARTITION BY node ORDER BY cnt DESC, label ASC) AS rn
                     FROM c{k}) WHERE rn = 1),
        l{k} AS MATERIALIZED (SELECT o.node, COALESCE(p{k}.label, o.label) AS label
                 FROM {prev} o LEFT JOIN p{k} ON o.node = p{k}.node)"""
        )
        prev = f"l{k}"
    cte = f"""
        WITH {TRADE_CREDIT_SQL},
        ue AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
            SELECT src, dst FROM tc_edges
            UNION ALL SELECT dst, src FROM tc_edges)),
        nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM ue),
        l0 AS (SELECT node, node AS label FROM nodes),
        {",".join(steps)},
        lpa AS MATERIALIZED (SELECT node, label AS community FROM {prev})"""
    return cte


def _lpa_oracle_sql(iters: int = 4) -> str:
    """Full LPA oracle query (CTE chain + projection)."""
    return _lpa_cte_sql(iters) + "\n        SELECT node, community FROM lpa"


@register(
    "graph_label_propagation",
    "graph",
    oracle=_lpa_oracle_sql(iters=4),
    notes=(
        "community detection by synchronous label propagation (README.md:28 "
        "— NetworkX ships label_propagation_communities; corporate-cluster "
        "views are the product's F3 grouping surface): 4 deterministic "
        "sweeps over the undirected trade-credit graph, each node adopting "
        "the most frequent neighbor label with MIN tie-break (the "
        "determinism knob async LPA lacks — async is order-dependent and "
        "could never hash-match an oracle). Each sweep = one edge-state "
        "join + (node,label) count + per-node top-1 window; all shuffles "
        "hash on node id, the Pregel superstep shape. Oracle unrolls the "
        "identical 4 sweeps; integer counts + string labels, so no float "
        "discipline is even needed"
    ),
)
def graph_label_propagation(spark, sf_dir):
    _, lab = _lpa_labels(spark, sf_dir, iters=4)
    return lab.select("node", F.col("label").alias("community"))


def _lpa_labels(spark, sf_dir, iters: int = 4):
    """(undirected edge frame, converged label frame) — the Spark twin of
    the ``_lpa_cte_sql`` recurrence, shared by graph_label_propagation and
    graph_modularity."""
    tables(spark, sf_dir)
    tc = catalog.trade_credit_edges(spark, sf_dir).select("src", "dst")
    ue = (
        tc.unionAll(tc.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    lab = ue.select(F.col("src").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    w = Window.partitionBy("n2").orderBy(F.desc("cnt"), F.asc("label"))
    for _ in range(iters):
        cnt = (
            ue.join(lab, ue.src == lab.node)
            .groupBy(F.col("dst").alias("n2"), "label")
            .agg(F.count("*").alias("cnt"))
        )
        top = (
            cnt.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("n2", F.col("label").alias("new_label"))
        )
        lab = (
            lab.join(top, lab.node == top.n2, "left")
            .select("node", F.coalesce("new_label", "label").alias("label"))
            .localCheckpoint(eager=True)
        )
    return ue, lab


@register(
    "graph_modularity",
    "graph",
    oracle=_lpa_cte_sql(iters=4)
    + """,
        und AS (SELECT src, dst FROM ue WHERE src < dst),
        m AS (SELECT CAST(COUNT(*) AS DOUBLE) AS m FROM und),
        deg AS (SELECT src AS node, COUNT(*) AS d FROM ue GROUP BY src),
        cdeg AS (SELECT l.community, CAST(SUM(deg.d) AS DOUBLE) AS dtot,
                        CAST(COUNT(*) AS BIGINT) AS n_nodes
                 FROM deg JOIN lpa l ON deg.node = l.node GROUP BY l.community),
        cin AS (SELECT la.community, CAST(COUNT(*) AS DOUBLE) AS lin
                FROM und e
                JOIN lpa la ON e.src = la.node
                JOIN lpa lb ON e.dst = lb.node
                WHERE la.community = lb.community
                GROUP BY la.community)
        SELECT c.community, c.n_nodes,
               CAST(COALESCE(cin.lin, 0.0) AS BIGINT) AS intra_edges,
               CAST(c.dtot AS BIGINT) AS degree_total,
               FLOOR((COALESCE(cin.lin, 0.0) / m.m
                      - (c.dtot / (2.0 * m.m)) * (c.dtot / (2.0 * m.m)))
                     * 1e6 + 0.5) / 1e6 AS q_contrib
        FROM cdeg c LEFT JOIN cin ON c.community = cin.community
        CROSS JOIN m
    """,
    notes=(
        "Newman modularity of the label-propagation partition (README.md:28 "
        "— the quality score NetworkX pairs with community detection; "
        "Q = sum_c [L_c/m - (D_c/2m)^2]): per-community intra-edge and "
        "degree totals from the SAME deterministic 4-sweep LPA fixpoint as "
        "graph_label_propagation (oracle literally extends that op's "
        "unrolled CTE chain). Every ingredient is an integer count, so the "
        "one float expression runs on identical bits in both engines. Two "
        "hash-join + partial-agg shuffles over the edge list — linear at "
        "any graph size once labels exist"
    ),
)
def graph_modularity(spark, sf_dir):
    ue, lab = _lpa_labels(spark, sf_dir, iters=4)
    und = ue.filter(F.col("src") < F.col("dst")).localCheckpoint(eager=True)
    # global edge count stays IN the plan (broadcast scalar, no driver count)
    mdf = und.agg(F.count("*").cast("double").alias("m"))
    deg = ue.groupBy(F.col("src").alias("node")).agg(F.count("*").alias("d"))
    la = lab.select(F.col("node"), F.col("label").alias("community"))
    cdeg = (
        deg.join(la, "node")
        .groupBy("community")
        .agg(
            F.sum("d").cast("double").alias("dtot"),
            F.count("*").cast("bigint").alias("n_nodes"),
        )
    )
    cin = (
        und.join(la.select(F.col("node").alias("src"), F.col("community").alias("ca")), "src")
        .join(la.select(F.col("node").alias("dst"), F.col("community").alias("cb")), "dst")
        .filter(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("community"))
        .agg(F.count("*").cast("double").alias("lin"))
    )
    lin = F.coalesce(F.col("lin"), F.lit(0.0))
    q = lin / F.col("m") - (F.col("dtot") / (2.0 * F.col("m"))) * (
        F.col("dtot") / (2.0 * F.col("m"))
    )
    return (
        cdeg.join(cin, "community", "left")
        .crossJoin(F.broadcast(mdf))
        .select(
            "community",
            "n_nodes",
            lin.cast("bigint").alias("intra_edges"),
            F.col("dtot").cast("bigint").alias("degree_total"),
            (F.floor(q * 1e6 + F.lit(0.5)) / 1e6).alias("q_contrib"),
        )
    )


_TOPO_SQL = """
    WITH RECURSIVE {edges},
    e AS (SELECT DISTINCT src, dst FROM edges),
    roots AS (SELECT DISTINCT src FROM e
              WHERE src NOT IN (SELECT dst FROM e)),
    walk(node, depth) AS (
        SELECT src, 0 FROM roots
        UNION ALL
        SELECT e.dst, w.depth + 1 FROM walk w JOIN e ON e.src = w.node
        WHERE w.depth < 4
    )
    SELECT node, CAST(MAX(depth) AS INTEGER) AS level FROM walk GROUP BY node
"""


@register(
    "graph_topo_levels",
    "graph",
    oracle=_TOPO_SQL.format(edges=HIERARCHY_SQL.strip()),
    notes=(
        "topological levels of the ownership DAG (README.md:11 'N-tier' — "
        "the tier number itself: level(v) = longest path from any root, the "
        "Kahn-layer a scheduler or tier-report needs): recursive CTE from "
        "the in-degree-0 roots + MAX group-by, verbatim in both engines "
        "(the E2 SQL entry, like graph_weighted_sssp). Depth bound 4 > DAG "
        "height 2; walk fan-out is |paths to root|, linear here because "
        "every node has exactly one parent chain"
    ),
)
def graph_topo_levels(spark, sf_dir):
    return _sql_both(spark, sf_dir, _TOPO_SQL.format(edges=HIERARCHY_SQL.strip()))


@register(
    "cypher_rel_weight",
    "graph",
    oracle=f"""
        WITH {HIERARCHY_SQL}
        SELECT src AS customer, dst AS nation, ROUND(weight, 6) AS w
        FROM edges
        WHERE rel_type = 'customer_of' AND ROUND(weight, 6) >= 0.01
    """,
    notes=(
        "Cypher relationship variables (README.md:25 — Neo4j edges carry "
        "properties; ownership queries read the fraction off the edge): "
        "`-[r:CUSTOMER_OF]->` binds r and `r.weight` is readable in WHERE "
        "and RETURN, compiled onto the path_weight machinery (for a 1..1 "
        "segment it is exactly the round-6 edge weight; the single-segment "
        "guard is inherited). Oracle reads the same weights straight off "
        "the edge CTE"
    ),
)
def cypher_rel_weight(spark, sf_dir):
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH (c:Customer)-[r:CUSTOMER_OF]->(n)
           WHERE r.weight >= 0.01
           RETURN c.id AS customer, n.id AS nation, r.weight AS w""",
    )


@register(
    "cypher_union",
    "graph",
    oracle=f"""
        WITH {HIERARCHY_SQL},
        cu AS (SELECT dst AS entity, COUNT(*) AS members FROM edges
               WHERE rel_type = 'customer_of' GROUP BY dst),
        su AS (SELECT dst AS entity, COUNT(*) AS members FROM edges
               WHERE rel_type = 'supplier_of' GROUP BY dst)
        SELECT entity, members FROM cu
        UNION
        SELECT entity, members FROM su
    """,
    notes=(
        "Cypher UNION (README.md:25 — combining member rosters from two "
        "relationship types is the textbook UNION use): two complete "
        "aggregate queries combined with set semantics (plain UNION "
        "deduplicates; branches must return the same column names, "
        "mixing UNION/UNION ALL rejected — all Neo4j rules). Each branch "
        "plans independently (one edge-scan + partial agg); the union "
        "adds one distinct shuffle only in the plain-UNION case"
    ),
)
def cypher_union(spark, sf_dir):
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH (c:Customer)-[:CUSTOMER_OF]->(n)
           RETURN n.id AS entity, count(*) AS members
           UNION
           MATCH (s:Supplier)-[:SUPPLIER_OF]->(n)
           RETURN n.id AS entity, count(*) AS members""",
    )


def _risk_oracle_sql(iters: int = 10, damping: float = 0.85) -> str:
    """Composite-risk oracle: the pagerank recurrence (graph.py:341's CTE
    triples) re-instantiated over the DISTINCT trade-credit edge set, plus
    total degree and the cycle-membership walk, combined into the declared
    weighted score on round-6 operands."""
    steps = []
    prev = "pr0"
    for k in range(1, iters + 1):
        steps.append(
            f"""
        c{k} AS (SELECT s.dst AS node, SUM(p.rank * s.share) AS inflow
                 FROM shares s JOIN {prev} p ON s.src = p.node GROUP BY s.dst),
        d{k} AS (SELECT COALESCE(SUM(rank), 0.0) AS dm FROM {prev}
                 WHERE node IN (SELECT node FROM dangling)),
        pr{k} AS (SELECT nodes.node,
                         (1 - {damping}) / nn.n
                         + {damping} * (COALESCE(c{k}.inflow, 0.0) + d{k}.dm / nn.n)
                             AS rank
                  FROM nodes CROSS JOIN nn CROSS JOIN d{k}
                  LEFT JOIN c{k} ON nodes.node = c{k}.node)"""
        )
        prev = f"pr{k}"
    return f"""
        WITH RECURSIVE {TRADE_CREDIT_SQL},
        e AS MATERIALIZED (SELECT DISTINCT src, dst FROM tc_edges),
        nodes AS MATERIALIZED (SELECT DISTINCT node FROM
                  (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
        nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
        outd AS (SELECT src, COUNT(*) AS od FROM e GROUP BY src),
        shares AS MATERIALIZED (SELECT e.src, e.dst, 1.0 / outd.od AS share
                   FROM e JOIN outd ON e.src = outd.src),
        dangling AS MATERIALIZED (SELECT node FROM nodes
                     WHERE node NOT IN (SELECT src FROM e)),
        pr0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes),
        {",".join(steps)},
        pr AS MATERIALIZED (SELECT node, FLOOR(rank * 1e6 + 0.5) / 1e6 AS pr
                            FROM {prev}),
        deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM
                  (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)
                GROUP BY node),
        walk(origin, node, depth) AS (
            SELECT src AS origin, dst AS node, 1 AS depth FROM e
            UNION ALL
            SELECT w.origin, e2.dst, w.depth + 1
            FROM walk w JOIN e e2 ON e2.src = w.node
            WHERE w.depth < 4 AND w.node <> w.origin
        ),
        cyc AS (SELECT DISTINCT origin AS node FROM walk WHERE node = origin),
        mx AS (SELECT MAX(pr.pr) AS prmax, MAX(deg.degree) AS degmax
               FROM pr JOIN deg ON pr.node = deg.node)
        SELECT pr.node, pr.pr, deg.degree,
               CASE WHEN cyc.node IS NOT NULL THEN TRUE ELSE FALSE END AS on_cycle,
               FLOOR((0.5 * (pr.pr / mx.prmax)
                      + 0.3 * (CAST(deg.degree AS DOUBLE) / CAST(mx.degmax AS DOUBLE))
                      + 0.2 * (CASE WHEN cyc.node IS NOT NULL THEN 1.0 ELSE 0.0 END))
                     * 1e6 + 0.5) / 1e6 AS risk_score
        FROM pr
        JOIN deg ON pr.node = deg.node
        LEFT JOIN cyc ON pr.node = cyc.node
        CROSS JOIN mx
    """


@register(
    "graph_risk_score",
    "graph",
    oracle=_risk_oracle_sql(iters=10, damping=0.85),
    notes=(
        "composite entity RISK SCORE — the reference's headline promise "
        "('identify hidden risks in seconds', README.md:6) as one declared "
        "frame: 0.5*normalized PageRank influence + 0.3*normalized degree "
        "+ 0.2*circular-exposure membership, on the trade-credit digraph. "
        "Influence is the SAME 10-iteration DF-Pregel recurrence as "
        "graph_pagerank (here over tc edges), cycles the SAME depth-4 walk "
        "as graph_cycles; every operand is dround'd (ranks) or integer "
        "(degrees, membership) BEFORE the one float combination, so both "
        "engines combine identical bits. Max-normalizers ride a broadcast "
        "scalar — nothing leaves the plan. Within graph_snapshot.MAX_EDGES "
        "the same operands come from the in-process kernels shared with "
        "api.centrality and api.circular_ownership (risk_kernel: "
        "graph_kernels.pagerank and cycle_members on the snapshot's edge "
        "arrays), so the op starts no job; risk_spark stays the scale path"
    ),
)
def graph_risk_score(spark, sf_dir):
    tables(spark, sf_dir)
    g = graph_snapshot.arrays(spark, sf_dir, "trade_credit")
    if g is not None:
        return graph_snapshot.frame(spark, risk_kernel(*g[:3]), non_null=("degree", "on_cycle"))
    return risk_spark(catalog.trade_credit_edges(spark, sf_dir))


def risk_kernel(nodes, src, dst) -> dict:
    """:func:`risk_spark`'s columns, operand for operand, on the snapshot's
    edge arrays: the same pagerank, degree and depth-4 cycle membership on
    the distinct edges, combined in the same double arithmetic."""
    n = len(nodes)
    pair = np.unique(src * n + dst)
    src, dst = pair // n, pair % n
    pr = gk.dround(gk.pagerank(n, src, dst, iters=10))
    degree = np.bincount(src, minlength=n) + np.bincount(dst, minlength=n)
    on_cycle = gk.cycle_members(n, src, dst, max_len=4)
    risk = (
        0.5 * (pr / pr.max())
        + 0.3 * (degree.astype(float) / float(degree.max()))
        + 0.2 * np.where(on_cycle, 1.0, 0.0)
    )
    return {
        "node": nodes, "pr": pr, "degree": degree.astype(np.int64),
        "on_cycle": on_cycle, "risk_score": gk.dround(risk),
    }


def risk_spark(edges):
    """graph_risk_score's Spark path over a (src, dst, ...) edge frame."""
    from mimranalytics_core_spark.functions.graph_algos import pagerank

    tc = edges.select("src", "dst").distinct().localCheckpoint(eager=True)
    pr = pagerank(tc, iters=10, state_partitions=8).select(
        "node", (F.floor(F.col("rank") * 1e6 + F.lit(0.5)) / 1e6).alias("pr")
    )
    deg = (
        tc.select(F.col("src").alias("node"))
        .unionAll(tc.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("degree"))
    )
    # Cycle membership over the ALREADY-CHECKPOINTED tc edge list instead
    # of the recursive-CTE form (round-16, guide §2.4): the CTE re-derived
    # tc_edges from orders⋈lineitem + supplier⋈customer inside its own
    # plan — two redundant base-table joins per invocation. This loop is
    # the CTE verbatim (base = depth-1 frontier; expand only walks that
    # have not returned; depth < 4), so the membership set is identical;
    # the frontier joins run over the tiny materialized edge list.
    # Measured (interleaved, sf0.1): cyc stage 1.29 -> ~0.4 s.
    frontier = tc.select(F.col("src").alias("origin"), F.col("dst").alias("node"))
    hits = frontier.filter(F.col("origin") == F.col("node")).select("origin")
    for _ in range(3):
        frontier = (
            frontier.filter(F.col("origin") != F.col("node"))
            .join(tc, F.col("node") == F.col("src"))
            .select("origin", F.col("dst").alias("node"))
        )
        hits = hits.unionByName(
            frontier.filter(F.col("origin") == F.col("node")).select("origin")
        )
    cyc = hits.distinct().select(
        F.col("origin").alias("node"), F.lit(True).alias("cyc")
    )
    base = pr.join(deg, "node").join(cyc, "node", "left")
    mx = base.agg(
        F.max("pr").alias("prmax"), F.max("degree").alias("degmax")
    )
    on_cycle = F.coalesce(F.col("cyc"), F.lit(False))
    risk = (
        F.lit(0.5) * (F.col("pr") / F.col("prmax"))
        + F.lit(0.3) * (F.col("degree").cast("double") / F.col("degmax").cast("double"))
        + F.lit(0.2) * F.when(on_cycle, 1.0).otherwise(0.0)
    )
    return base.crossJoin(F.broadcast(mx)).select(
        "node",
        "pr",
        "degree",
        on_cycle.alias("on_cycle"),
        (F.floor(risk * 1e6 + F.lit(0.5)) / 1e6).alias("risk_score"),
    )


_CYCLE_PATHS_SQL = """
    WITH RECURSIVE {edges},
    walk(origin, node, path, depth) AS (
        SELECT src, dst, src || '->' || dst, 1 FROM tc_edges
        UNION ALL
        SELECT w.origin, e.dst, w.path || '->' || e.dst, w.depth + 1
        FROM walk w JOIN tc_edges e ON e.src = w.node
        WHERE w.depth < 4 AND w.node <> w.origin
    )
    SELECT origin, path, CAST(depth AS INTEGER) AS cycle_len
    FROM walk WHERE node = origin
"""


@register(
    "graph_cycle_paths",
    "graph",
    oracle=_CYCLE_PATHS_SQL.format(edges=TRADE_CREDIT_SQL.strip()),
    notes=(
        "cycle PATH enumeration (README.md:15 — membership alone "
        "(graph_cycles) flags the entity; the audit report must SHOW the "
        "loop): every closed walk up to length 4 on the bounded "
        "trade-credit digraph as an arrow-joined path string, verbatim "
        "recursive CTE in both engines (E2). The walk stops expanding once "
        "it returns to origin, and the subgraph is bounded by declaration "
        "(<50 keys — path enumeration NEVER runs on unbounded graphs, the "
        "module's scale posture), so the frontier stays subgraph-sized at "
        "every SF"
    ),
)
def graph_cycle_paths(spark, sf_dir):
    return _sql_both(spark, sf_dir, _CYCLE_PATHS_SQL.format(edges=TRADE_CREDIT_SQL.strip()))


_CHAINS_SQL = """
    WITH {edges},
    c1 AS (SELECT src, dst, weight FROM edges WHERE rel_type = 'customer_of'),
    s1 AS (SELECT src, dst, weight FROM edges WHERE rel_type = 'supplier_of'),
    n1 AS (SELECT src, dst FROM edges WHERE rel_type = 'nation_of')
    SELECT c1.src AS entity,
           c1.src || '->' || c1.dst || '->' || n1.dst AS chain,
           FLOOR(c1.weight * 1e6 + 0.5) / 1e6 AS effective_share
    FROM c1 JOIN n1 ON c1.dst = n1.src
    UNION ALL
    SELECT s1.src, s1.src || '->' || s1.dst || '->' || n1.dst,
           FLOOR(s1.weight * 1e6 + 0.5) / 1e6
    FROM s1 JOIN n1 ON s1.dst = n1.src
"""


@register(
    "graph_ownership_chains",
    "graph",
    oracle=_CHAINS_SQL.format(edges=HIERARCHY_SQL.strip()),
    notes=(
        "ownership CHAIN report (F1/F2, README.md:11/13 — the per-entity "
        "'who do I roll up to, through whom, at what share' line every "
        "audit export prints): entity -> nation -> region path strings "
        "with the effective share (weight product; tier-2/3 edges carry "
        "1.0 so the customer fraction is the product), verbatim-shared "
        "SQL. Two broadcast-sized joins — the chains frame is exactly "
        "|entities| rows at any scale"
    ),
)
def graph_ownership_chains(spark, sf_dir):
    return _sql_both(spark, sf_dir, _CHAINS_SQL.format(edges=HIERARCHY_SQL.strip()))


@register(
    "graph_betweenness_edge",
    "graph",
    oracle=f"""
        WITH RECURSIVE {HIERARCHY_SQL.strip()},
        ue AS (SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges),
        srcs AS (SELECT DISTINCT src AS s FROM ue
                 WHERE src LIKE 'n:%' OR src LIKE 'r:%'),
        walk(s, node, path) AS (
            SELECT s, s, [s] FROM srcs
            UNION ALL
            SELECT w.s, e.dst, list_append(w.path, e.dst)
            FROM walk w JOIN ue e ON e.src = w.node
            WHERE NOT list_contains(w.path, e.dst) AND len(w.path) <= 6
        ),
        paths AS (SELECT s, node AS t, path, len(path) - 1 AS d
                  FROM walk WHERE node != s),
        mind AS (SELECT s, t, MIN(d) AS md FROM paths GROUP BY s, t),
        sp AS (SELECT p.s, p.t, p.path FROM paths p
               JOIN mind m ON p.s = m.s AND p.t = m.t AND p.d = m.md),
        sigma AS (SELECT s, t, COUNT(*) AS sig FROM sp GROUP BY s, t),
        prs AS (SELECT s, t,
                       unnest(list_transform(generate_series(1, len(path) - 1),
                                             i -> [path[i], path[i + 1]])) AS pr
                FROM sp),
        via AS (SELECT s, t, LEAST(pr[1], pr[2]) AS a, GREATEST(pr[1], pr[2]) AS b,
                       COUNT(*) AS cnt
                FROM prs GROUP BY s, t, LEAST(pr[1], pr[2]), GREATEST(pr[1], pr[2])),
        eb AS (SELECT a, b, SUM(cnt * 1.0 / sig) AS bw
               FROM via JOIN sigma USING (s, t) GROUP BY a, b)
        SELECT a AS src, b AS dst, FLOOR(bw * 1e6 + 0.5) / 1e6 AS edge_betweenness
        FROM eb
    """,
    notes=(
        "EDGE betweenness (the Girvan–Newman scoring phase — which "
        "RELATIONSHIP carries the most shortest-path traffic; the bridge-"
        "detection complement of node betweenness, README.md:28): the "
        "SAME Brandes forward/backward machinery as graph_betweenness "
        "(graph_algos.betweenness(edge_scores=True)) — the per-(v,w) "
        "backward term sigma_v/sigma_w*(1+delta_w) IS the edge dependency, "
        "so the variant only re-keys existing terms onto canonical "
        "undirected pairs before the final sum. Oracle: the simple-path "
        "enumeration CTE unnesting CONSECUTIVE PAIRS instead of interior "
        "nodes — the independent-formulation pattern of the centrality "
        "family"
    ),
)
def graph_betweenness_edge(spark, sf_dir):
    from mimranalytics_core_spark.functions.graph_algos import betweenness, undirect

    tables(spark, sf_dir)
    e = undirect(catalog.hierarchy_edges(spark, sf_dir))
    sources = (
        e.select("src")
        .filter(F.col("src").startswith("n:") | F.col("src").startswith("r:"))
        .distinct()
        .select(F.col("src").alias("node"))
    )
    return betweenness(e, sources, max_depth=6, state_partitions=8, edge_scores=True)


@register(
    "graph_rich_club",
    "graph",
    oracle=f"""
        WITH {TRADE_CREDIT_SQL},
        ue AS (SELECT DISTINCT src, dst FROM (
            SELECT src, dst FROM tc_edges
            UNION ALL SELECT dst, src FROM tc_edges)),
        deg AS (SELECT src AS node, COUNT(*) AS d FROM ue GROUP BY src),
        und AS (SELECT src, dst FROM ue WHERE src < dst),
        ks AS (SELECT unnest([5, 10, 15, 20]) AS k),
        rich AS (SELECT k, node FROM ks JOIN deg ON deg.d > ks.k),
        nk AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n_rich FROM rich GROUP BY k),
        ek AS (SELECT r1.k, CAST(COUNT(*) AS BIGINT) AS e_rich
               FROM und e
               JOIN rich r1 ON e.src = r1.node
               JOIN rich r2 ON e.dst = r2.node AND r1.k = r2.k
               GROUP BY r1.k),
        base AS (SELECT nk.k, nk.n_rich, COALESCE(ek.e_rich, 0) AS e_rich
                 FROM nk LEFT JOIN ek ON nk.k = ek.k)
        SELECT CAST(k AS INTEGER) AS k, n_rich, e_rich,
               CASE WHEN n_rich >= 2
                    THEN FLOOR(2.0 * e_rich
                               / (CAST(n_rich AS DOUBLE) * (n_rich - 1))
                               * 1e6 + 0.5) / 1e6
                    ELSE NULL END AS phi
        FROM base
    """,
    notes=(
        "rich-club coefficient (Zhou & Mondragon 2004, public; NetworkX "
        "rich_club_coefficient — do the best-connected entities trade "
        "preferentially with EACH OTHER, the elite-collusion screen of "
        "README.md:15): phi(k) = 2*E_k / (N_k*(N_k-1)) over nodes of "
        "degree > k for four k levels. Degrees and within-club edge "
        "counts are one partial-agg and one semi-join-shaped join each; "
        "all ingredients integer, one float ratio dround 6"
    ),
)
def graph_rich_club(spark, sf_dir):
    tables(spark, sf_dir)
    tc = catalog.trade_credit_edges(spark, sf_dir).select("src", "dst")
    ue = (
        tc.unionAll(tc.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = ue.groupBy(F.col("src").alias("node")).agg(F.count("*").alias("d"))
    und = ue.filter(F.col("src") < F.col("dst"))
    ks = spark.range(1).select(F.explode(F.array(*[F.lit(k) for k in (5, 10, 15, 20)])).alias("k"))
    rich = ks.crossJoin(deg).filter(F.col("d") > F.col("k")).select("k", "node")
    nk = rich.groupBy("k").agg(F.count("*").cast("bigint").alias("n_rich"))
    r1 = rich.select(F.col("k"), F.col("node").alias("src"))
    r2 = rich.select(F.col("k").alias("k2"), F.col("node").alias("dst2"))
    ek = (
        und.join(r1, "src")
        .join(r2, (F.col("dst") == F.col("dst2")) & (F.col("k") == F.col("k2")))
        .groupBy("k")
        .agg(F.count("*").cast("bigint").alias("e_rich"))
    )
    base = nk.join(ek, "k", "left").select(
        "k", "n_rich", F.coalesce("e_rich", F.lit(0)).cast("bigint").alias("e_rich")
    )
    phi = (
        F.floor(
            2.0 * F.col("e_rich") / (F.col("n_rich").cast("double") * (F.col("n_rich") - 1))
            * 1e6
            + F.lit(0.5)
        )
        / 1e6
    )
    return base.select(
        F.col("k").cast("int").alias("k"),
        "n_rich",
        "e_rich",
        F.when(F.col("n_rich") >= 2, phi).otherwise(F.lit(None).cast("double")).alias("phi"),
    )


@register(
    "graph_path_stats",
    "graph",
    oracle=f"""
        WITH RECURSIVE {HIERARCHY_SQL.strip()},
        ue AS (SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges),
        srcs AS (SELECT DISTINCT src AS s FROM ue
                 WHERE src LIKE 'n:%' OR src LIKE 'r:%'),
        walk(s, node, path) AS (
            SELECT s, s, [s] FROM srcs
            UNION ALL
            SELECT w.s, e.dst, list_append(w.path, e.dst)
            FROM walk w JOIN ue e ON e.src = w.node
            WHERE NOT list_contains(w.path, e.dst) AND len(w.path) <= 6
        ),
        md AS (SELECT s, node, MIN(len(path) - 1) AS d
               FROM walk WHERE node != s GROUP BY s, node)
        SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
               FLOOR(AVG(CAST(d AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS avg_path_len,
               CAST(MAX(d) AS INTEGER) AS diameter_lb
        FROM md
    """,
    notes=(
        "small-world path statistics from the hub sample (README.md:28 — "
        "NetworkX's average_shortest_path_length/diameter pair): reached-"
        "pair count, mean min-hop distance, and the sampled diameter lower "
        "bound, ONE extra aggregation on the same multi-source BFS that "
        "already powers closeness/eccentricity/harmonic (the marginal-cost "
        "pattern of the centrality family). AVG over small-int distances "
        "dround 6 — the sum is integer-exact, only the final division is "
        "float"
    ),
)
def graph_path_stats(spark, sf_dir):
    from mimranalytics_core_spark.functions.graph_algos import (
        multi_source_distances,
        undirect,
    )

    tables(spark, sf_dir)
    e = undirect(catalog.hierarchy_edges(spark, sf_dir))
    sources = (
        e.select("src")
        .filter(F.col("src").startswith("n:") | F.col("src").startswith("r:"))
        .distinct()
        .select(F.col("src").alias("node"))
    )
    d = multi_source_distances(e, sources, max_depth=6).filter(
        F.col("node") != F.col("source")
    )
    return d.agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        (F.floor(F.avg(F.col("dist").cast("double")) * 1e6 + F.lit(0.5)) / 1e6).alias(
            "avg_path_len"
        ),
        F.max("dist").cast("int").alias("diameter_lb"),
    )


@register(
    "cypher_string_predicates",
    "graph",
    oracle="""
        SELECT 'c:' || c_custkey AS cust, c_name AS cname, n_name AS nname
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        WHERE c_name LIKE '%7' AND n_name LIKE '%A%'
    """,
    notes=(
        "Cypher string predicates (README.md:25 — STARTS WITH / ENDS WITH "
        "/ CONTAINS are the Cypher string-matching triple; saved queries "
        "use them constantly): ENDS WITH and CONTAINS now compile to "
        "suffix/infix LIKE with escaped literals, joining the existing "
        "STARTS WITH support (ENDS WITH is masked during the pipeline "
        "scan so its WITH keyword cannot bind a pipe stage — the same "
        "guard STARTS WITH already needed). Property access resolves "
        "through the hierarchy_nodes attribute view; the oracle states "
        "the equivalent relational form directly"
    ),
)
def cypher_string_predicates(spark, sf_dir):
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH (c:Customer)-[:CUSTOMER_OF]->(n)
           WHERE c.name ENDS WITH '7' AND n.name CONTAINS 'A'
           RETURN c.id AS cust, c.name AS cname, n.name AS nname""",
    )


@register(
    "graph_degree_distribution",
    "graph",
    oracle=f"""
        WITH {HIERARCHY_SQL},
        ue AS (SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges),
        deg AS (SELECT src AS node, COUNT(*) AS d FROM ue GROUP BY src),
        hist AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS n_nodes FROM deg GROUP BY d),
        tot AS (SELECT CAST(SUM(n_nodes) AS DOUBLE) AS n FROM hist)
        SELECT CAST(d AS BIGINT) AS degree, n_nodes,
               FLOOR(SUM(n_nodes) OVER (ORDER BY d DESC
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     / tot.n * 1e6 + 0.5) / 1e6 AS ccdf
        FROM hist CROSS JOIN tot
    """,
    notes=(
        "degree distribution + CCDF (the first chart every graph product "
        "draws, README.md:11 — and the heavy-tail check that decides "
        "whether skew mitigation is needed at scale): undirected degree "
        "histogram with the complementary cumulative share (fraction of "
        "nodes with degree >= d, an ordered window over the tiny "
        "histogram). Two partial-agg shuffles; histogram size is "
        "|distinct degrees|, not |V|"
    ),
)
def graph_degree_distribution(spark, sf_dir):
    tables(spark, sf_dir)
    e = catalog.hierarchy_edges(spark, sf_dir).select("src", "dst")
    ue = e.unionAll(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    deg = ue.groupBy(F.col("src").alias("node")).agg(F.count("*").alias("d"))
    hist = deg.groupBy("d").agg(F.count("*").cast("bigint").alias("n_nodes"))
    tot = hist.agg(F.sum("n_nodes").cast("double").alias("n"))
    w = Window.orderBy(F.desc("d")).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        hist.crossJoin(F.broadcast(tot))
        .select(
            F.col("d").cast("bigint").alias("degree"),
            "n_nodes",
            (
                F.floor(F.sum("n_nodes").over(w) / F.col("n") * 1e6 + F.lit(0.5)) / 1e6
            ).alias("ccdf"),
        )
    )


@register(
    "graph_component_sizes",
    "graph",
    oracle="""
        WITH nodes AS (
            SELECT 'c:' || c_custkey AS node, n_regionkey AS rk
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            UNION ALL
            SELECT 's:' || s_suppkey, n_regionkey
            FROM supplier JOIN nation ON s_nationkey = n_nationkey
            UNION ALL
            SELECT 'n:' || n_nationkey, n_regionkey FROM nation
            UNION ALL
            SELECT 'r:' || r_regionkey, r_regionkey FROM region
        ),
        comp AS (SELECT node, MIN(node) OVER (PARTITION BY rk) AS component
                 FROM nodes),
        sizes AS (SELECT component, COUNT(*) AS sz FROM comp GROUP BY component)
        SELECT CAST(sz AS BIGINT) AS component_size,
               CAST(COUNT(*) AS BIGINT) AS n_components
        FROM sizes GROUP BY sz
    """,
    notes=(
        "component-size histogram (the cluster-landscape summary a "
        "corporate-registry product shows first, README.md:15): the SAME "
        "min-label Pregel as graph_connected_components, reduced twice "
        "(component -> size -> histogram). The oracle reuses that op's "
        "non-iterative region-tree ground truth. Output is "
        "|distinct sizes| rows — constant-ish at any scale"
    ),
)
def graph_component_sizes(spark, sf_dir):
    from mimranalytics_core_spark.functions.graph_algos import connected_components

    tables(spark, sf_dir)
    e = catalog.hierarchy_edges(spark, sf_dir).select("src", "dst")
    comp = connected_components(e, max_iter=10, state_partitions=8)
    sizes = comp.groupBy("component").agg(F.count("*").alias("sz"))
    return sizes.groupBy("sz").agg(
        F.count("*").cast("bigint").alias("n_components")
    ).select(F.col("sz").cast("bigint").alias("component_size"), "n_components")


def _wpr_oracle_sql(iters: int = 10, damping: float = 0.85) -> str:
    """Unrolled WEIGHTED-pagerank oracle: the pagerank recurrence
    (graph.py:341) with proportional shares w/Σw per source over the
    dround-6 edge weights (zero-weight edges dropped; all-zero sources
    therefore dangle)."""
    steps = []
    prev = "pr0"
    for k in range(1, iters + 1):
        steps.append(
            f"""
        c{k} AS (SELECT s.dst AS node, SUM(p.rank * s.share) AS inflow
                 FROM shares s JOIN {prev} p ON s.src = p.node GROUP BY s.dst),
        d{k} AS (SELECT COALESCE(SUM(rank), 0.0) AS dm FROM {prev}
                 WHERE node IN (SELECT node FROM dangling)),
        pr{k} AS (SELECT nodes.node,
                         (1 - {damping}) / nn.n
                         + {damping} * (COALESCE(c{k}.inflow, 0.0) + d{k}.dm / nn.n)
                             AS rank
                  FROM nodes CROSS JOIN nn CROSS JOIN d{k}
                  LEFT JOIN c{k} ON nodes.node = c{k}.node)"""
        )
        prev = f"pr{k}"
    return f"""
        WITH {HIERARCHY_SQL},
        ew AS (SELECT src, dst, FLOOR(weight * 1e6 + 0.5) / 1e6 AS w FROM edges),
        nodes AS MATERIALIZED (SELECT DISTINCT node FROM
                  (SELECT src AS node FROM ew UNION ALL SELECT dst FROM ew)),
        nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
        pos AS MATERIALIZED (SELECT src, dst, w FROM ew WHERE w > 0),
        wsum AS (SELECT src, SUM(w) AS ws FROM pos GROUP BY src),
        shares AS MATERIALIZED (SELECT pos.src, pos.dst, pos.w / wsum.ws AS share
                   FROM pos JOIN wsum ON pos.src = wsum.src),
        dangling AS MATERIALIZED (SELECT node FROM nodes
                     WHERE node NOT IN (SELECT src FROM pos)),
        pr0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes),
        {",".join(steps)}
        SELECT node, FLOOR(rank * 1e6 + 0.5) / 1e6 AS rank FROM {prev}
    """


@register(
    "graph_pagerank_weighted",
    "graph",
    oracle=_wpr_oracle_sql(iters=10, damping=0.85),
    notes=(
        "ownership-WEIGHTED PageRank (README.md:13 — influence should "
        "follow the stake, not the edge count: a 90% owner carries 9x the "
        "mass of a 10% owner): each source splits its rank proportionally "
        "to its dround-6 edge weights (share = w/Σw; zero-weight edges "
        "carry nothing, so all-zero sources dangle — the 'no outgoing "
        "mass' semantics). graph_algos.pagerank with weight_col — the same "
        "supersteps and cost as graph_pagerank; the oracle is the unrolled "
        "recurrence with proportional shares"
    ),
)
def graph_pagerank_weighted(spark, sf_dir):
    from mimranalytics_core_spark.functions.graph_algos import pagerank

    tables(spark, sf_dir)
    e = catalog.hierarchy_edges(spark, sf_dir).select(
        "src", "dst", (F.floor(F.col("weight") * 1e6 + F.lit(0.5)) / 1e6).alias("w")
    )
    return pagerank(e, iters=10, state_partitions=8, weight_col="w").select(
        "node", (F.floor(F.col("rank") * 1000000 + F.lit(0.5)) / 1000000).alias("rank")
    )


@register(
    "cypher_reverse_direction",
    "graph",
    oracle=f"""
        WITH {HIERARCHY_SQL},
        ce AS (SELECT src, dst FROM edges
               WHERE rel_type = 'customer_of' AND src LIKE 'c:1%')
        SELECT dst AS n, COUNT(*) AS n_customers
        FROM ce GROUP BY dst ORDER BY n
    """,
    notes=(
        "REVERSE-direction Cypher pattern (round-4 verdict item 1 — "
        "(a)<-[:R]-(b) is the most common idiom after forward match; any "
        "saved Neo4j query set contains it on page one): the parser now "
        "accepts <-[…]- and normalizes it to a forward segment by swapping "
        "the endpoint variables, so (n)<-[:CUSTOMER_OF]-(c) traverses FROM "
        "c — and the WHERE predicate on c still pushes below the first "
        "join (the pushdown keys on the traversal start variable, not the "
        "first-written variable). Oracle is the equivalent forward closure "
        "+ GROUP BY. Scale: identical plan to cypher_match_agg — the "
        "direction is resolved at parse time, zero runtime cost"
    ),
)
def cypher_reverse_direction(spark, sf_dir):
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH (n)<-[:CUSTOMER_OF]-(c) WHERE c.id STARTS WITH 'c:1'
           RETURN n, count(*) AS n_customers ORDER BY n""",
    )


@register(
    "cypher_undirected",
    "graph",
    oracle=f"""
        WITH {HIERARCHY_SQL},
        sym AS (
            SELECT src, dst, src || '>' || dst AS ek FROM edges
            UNION ALL
            SELECT dst, src, src || '>' || dst AS ek FROM edges
        ),
        h1 AS (SELECT src, dst, 1 AS hops, ek FROM sym WHERE src LIKE 'n:%'),
        h2 AS (SELECT a.src, b.dst, 2 AS hops
               FROM h1 a JOIN sym b ON a.dst = b.src AND b.ek <> a.ek)
        SELECT src AS a, dst AS b, hops
        FROM (SELECT src, dst, hops FROM h1
              UNION ALL SELECT src, dst, hops FROM h2)
    """,
    notes=(
        "UNDIRECTED Cypher pattern with variable length and REAL trail "
        "semantics (round-4 verdict item 1 — conflict detection over "
        "shared attributes is naturally undirected): (a:Nation)-[*1..2]-(b) "
        "traverses the symmetrized edge view, per-path rows, where each "
        "ORIGINAL relationship may be used once per path in either "
        "direction (Neo4j undirected uniqueness — in particular the 2-hop "
        "n—c—n backtrack over one customer_of edge is excluded, while "
        "n—r—n' via a shared region survives). The oracle enumerates the "
        "same trails over a symmetrized CTE with the edge-identity "
        "inequality — certifying symmetrization + identity + multiplicity "
        "in one hash. Scale: symmetrization is a row-local union (2x edge "
        "rows, no shuffle); the label pushes to the frontier scan"
    ),
)
def cypher_undirected(spark, sf_dir):
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        "MATCH (a:Nation)-[*1..2]-(b) RETURN a, b, hops",
    )


@register(
    "cypher_undirected_parallel",
    "graph",
    oracle=f"""
        WITH {TRADE_CREDIT_SQL},
        sym AS (
            SELECT src, dst, src || '>' || dst AS ek FROM tc_edges
            UNION ALL
            SELECT dst, src, src || '>' || dst AS ek FROM tc_edges
        ),
        h1 AS (SELECT src, dst, ek FROM sym WHERE src LIKE 'c:1%'),
        h2 AS (SELECT a.src, b.dst AS dst
               FROM h1 a JOIN sym b ON a.dst = b.src AND b.ek <> a.ek)
        SELECT src AS a, CAST(COUNT(*) AS BIGINT) AS n_trails
        FROM h2 GROUP BY src ORDER BY a
    """,
    notes=(
        "undirected 2-hop trails on the CYCLIC trade-credit graph, where "
        "PARALLEL opposite-direction relationships exist between the same "
        "endpoints (c buys_from s AND s co_located c): the relationship "
        "identity is the original directed edge, so the c—s—c round trip "
        "over TWO DISTINCT relationships counts as a valid 2-hop trail "
        "while the backtrack over ONE relationship is excluded — the "
        "precise Neo4j uniqueness semantics a canonical least/greatest "
        "edge key would get wrong. Oracle: symmetrized CTE with the same "
        "identity inequality, aggregated per start node. Scale: the tc "
        "subgraph is declaration-bounded; the pattern is two bounded "
        "equi-joins + one hash agg"
    ),
)
def cypher_undirected_parallel(spark, sf_dir):
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH (a)-[*2..2]-(b) WHERE a.id STARTS WITH 'c:1'
           RETURN a, count(*) AS n_trails ORDER BY a""",
        graph="trade_credit",
    )


@register(
    "cypher_multi_pattern",
    "graph",
    oracle=f"""
        WITH {HIERARCHY_SQL},
        ce AS (SELECT src, dst FROM edges
               WHERE rel_type = 'customer_of' AND src LIKE 'c:1%'),
        se AS (SELECT src, dst FROM edges
               WHERE rel_type = 'supplier_of' AND src LIKE 's:1%')
        SELECT ce.dst AS n, COUNT(*) AS n_pairs
        FROM ce JOIN se ON ce.dst = se.dst
        GROUP BY ce.dst ORDER BY n
    """,
    notes=(
        "comma-separated multi-pattern MATCH (round-4 verdict item 2 — the "
        "idiomatic shared-director conflict shape, reference README.md:15: "
        "two patterns anchored on one variable in a single MATCH): "
        "(c)-[:CUSTOMER_OF]->(n), (s)-[:SUPPLIER_OF]->(n) parses as one "
        "clause of two chains; the clause frame joins the chains on their "
        "shared variables in connectivity order (a chain may connect via "
        "its second segment). Disconnected comma patterns are rejected at "
        "parse time — no cartesian products. The oracle is the equi-join "
        "the pattern denotes. Scale: two filtered narrow edge scans + one "
        "equi-join + hash agg; both predicates push below the joins"
    ),
)
def cypher_multi_pattern(spark, sf_dir):
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH (c)-[:CUSTOMER_OF]->(n), (s)-[:SUPPLIER_OF]->(n)
           WHERE c.id STARTS WITH 'c:1' AND s.id STARTS WITH 's:1'
           RETURN n, count(*) AS n_pairs ORDER BY n""",
    )


@register(
    "cypher_optional_where",
    "graph",
    oracle=f"""
        WITH {HIERARCHY_SQL},
        ce AS (SELECT src AS c, dst AS n FROM edges
               WHERE rel_type = 'customer_of'),
        se AS (SELECT src AS s, dst AS n FROM edges
               WHERE rel_type = 'supplier_of' AND src LIKE 's:1%'),
        j AS (SELECT ce.n, ce.c, se.s FROM ce LEFT JOIN se ON ce.n = se.n)
        SELECT n, COUNT(c) AS n_cust, COUNT(s) AS n_sup
        FROM j GROUP BY n ORDER BY n
    """,
    notes=(
        "per-clause WHERE scoping for OPTIONAL MATCH (round-4 verdict item "
        "3, closing the last documented OPTIONAL MATCH divergence): the "
        "WHERE attached to the optional clause filters ITS frame before "
        "the left join, so nations whose suppliers all fail the predicate "
        "null-extend (count(s)=0) instead of being dropped — the exact "
        "place Neo4j semantics and a SQL post-filter provably differ "
        "(regression-tested with an impossible predicate: every row "
        "survives). The oracle encodes the filter inside the LEFT JOIN's "
        "right side. A trailing WHERE gets the same treatment via "
        "conjunct re-scoping (optional-only conjuncts move into their "
        "owning clause). Scale: identical join plan; the scoped filter "
        "pushes to the optional side's scan"
    ),
)
def cypher_optional_where(spark, sf_dir):
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH (c:Customer)-[:CUSTOMER_OF]->(n)
           OPTIONAL MATCH (s)-[:SUPPLIER_OF]->(n) WHERE s.id STARTS WITH 's:1'
           RETURN n, count(c) AS n_cust, count(s) AS n_sup ORDER BY n""",
    )


@register(
    "cypher_multi_segment_paths",
    "graph",
    oracle=f"""
        WITH {TRADE_CREDIT_SQL},
        e AS (SELECT src, dst, src || '>' || dst AS ek FROM tc_edges),
        b2 AS (SELECT e1.src AS a, e2.dst AS b, e1.ek AS k1, e2.ek AS k2
               FROM e e1 JOIN e e2 ON e1.dst = e2.src AND e2.ek <> e1.ek
               WHERE e1.src LIKE 'c:1%'),
        seg2 AS (SELECT src, dst, src || '>' || dst AS ek FROM tc_edges
                 WHERE rel_type = 'buys_from'),
        j AS (SELECT b2.a FROM b2 JOIN seg2 ON b2.b = seg2.src
                  AND seg2.ek <> b2.k1 AND seg2.ek <> b2.k2)
        SELECT a, COUNT(*) AS n_paths FROM j GROUP BY a ORDER BY a
    """,
    notes=(
        "PER-PATH rows for multi-segment patterns (round-4 verdict item 4, "
        "deleting the last documented Cypher row-semantics divergence): "
        "(a)-[*2..2]->(b)-[:BUYS_FROM]->(c2) on the CYCLIC trade-credit "
        "graph, where paths strictly outnumber distinct variable bindings "
        "(c:1 has 405 paths at sf0.01 vs <=49 distinct pairs) — count(*) "
        "now counts Neo4j's match row stream. Each segment enumerates "
        "trail paths with edge keys kept; shared variables join the "
        "segments; a pairwise arrays_overlap filter enforces relationship "
        "uniqueness ACROSS the whole pattern (the a->s->a->s re-use of one "
        "buys_from edge is excluded — the oracle's ek inequality on BOTH "
        "prior keys). Scale: per-path enumeration is bounded by the "
        "declared subgraph + hop bounds; the uniqueness guard is row-local "
        "array math — no extra shuffle (tests/test_plans.py posture)"
    ),
)
def cypher_multi_segment_paths(spark, sf_dir):
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH (a)-[*2..2]->(b)-[:BUYS_FROM]->(c2)
           WHERE a.id STARTS WITH 'c:1'
           RETURN a, count(*) AS n_paths ORDER BY a""",
        graph="trade_credit",
    )


@register(
    "cypher_unwind_params",
    "graph",
    oracle=f"""
        WITH {HIERARCHY_SQL},
        ids AS (SELECT unnest(['c:1', 'c:4', 'c:7', 'c:nope']) AS cid),
        ce AS (SELECT src, dst FROM edges WHERE rel_type = 'customer_of')
        SELECT ids.cid, ce.dst AS n
        FROM ids JOIN ce ON ce.src = ids.cid
        ORDER BY cid
    """,
    notes=(
        "UNWIND + $param binding (round-4 verdict item 6 — the FastAPI "
        "request lifecycle, reference README.md:26: every request binds "
        "parameters; the canonical saved query is 'look up THESE ids'): "
        "UNWIND $ids AS cid expands the parameter-bound list into rows "
        "(an in-plan explode of literals, broadcast-cross-joined — never "
        "a driver-side table), the WHERE equality joins them to the match "
        "frame, and the unmatched id ('c:nope') drops out as in Cypher. "
        "bind_params substitutes outside quoted literals and raises on "
        "missing parameters. Oracle: unnest-VALUES join. Scale: the "
        "parameter list is request-sized at any corpus size; the broadcast "
        "cross join costs |params| x match rows pre-filter, and Catalyst "
        "collapses the equality into the join"
    ),
)
def cypher_unwind_params(spark, sf_dir):
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """UNWIND $ids AS cid MATCH (c)-[:CUSTOMER_OF]->(n)
           WHERE c.id = cid RETURN cid, n ORDER BY cid""",
        params={"ids": ["c:1", "c:4", "c:7", "c:nope"]},
    )


@register(
    "cypher_params_scalar",
    "graph",
    oracle=f"""
        WITH {HIERARCHY_SQL}
        SELECT src AS cust, ROUND(weight, 6) AS w
        FROM edges
        WHERE rel_type = 'customer_of' AND ROUND(weight, 6) >= 0.05
              AND src LIKE 'c:1%'
        ORDER BY w DESC, cust ASC LIMIT 5
    """,
    notes=(
        "scalar $param binding across value types (README.md:26): a float "
        "threshold ($minw -> r.weight >= 0.05) and a string prefix ($pfx "
        "-> STARTS WITH) bound into one saved query — the two most common "
        "parameter shapes in a serving layer. Substitution is literal "
        "rendering outside quoted strings, so a '$' inside a string "
        "literal survives untouched. Oracle inlines the same literals. "
        "Deterministic top-k via the unique-id tiebreak"
    ),
)
def cypher_params_scalar(spark, sf_dir):
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH (c)-[r:CUSTOMER_OF]->(n)
           WHERE r.weight >= $minw AND c.id STARTS WITH $pfx
           RETURN c.id AS cust, r.weight AS w
           ORDER BY w DESC, cust ASC LIMIT 5""",
        params={"minw": 0.05, "pfx": "c:1"},
    )


@register(
    "cypher_exists_predicate",
    "graph",
    oracle=f"""
        WITH {HIERARCHY_SQL}
        SELECT ce.dst AS n, COUNT(*) AS n_cust
        FROM edges ce
        WHERE ce.rel_type = 'customer_of'
          AND EXISTS (SELECT 1 FROM edges se
                      WHERE se.rel_type = 'supplier_of'
                        AND se.src LIKE 's:%' AND se.dst = ce.dst)
        GROUP BY ce.dst ORDER BY n
    """,
    notes=(
        "EXISTS { pattern } predicate (round-4 verdict missing item 2's "
        "second half — pattern predicates; Neo4j's existential subquery): "
        "customers in nations that HAVE at least one supplier. Compiles to "
        "a sub-pattern frame distinct'd on the correlation anchor (n) and "
        "LEFT SEMI-joined — existence never multiplies rows, and the semi "
        "join stops probing at first match (the plan that survives scale; "
        "inner-join-then-distinct would blow up first). Oracle: correlated "
        "EXISTS subquery, which DuckDB decorrelates to the same semi join"
    ),
)
def cypher_exists_predicate(spark, sf_dir):
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH (c)-[:CUSTOMER_OF]->(n)
           WHERE EXISTS { (s:Supplier)-[:SUPPLIER_OF]->(n) }
           RETURN n, count(*) AS n_cust ORDER BY n""",
    )


@register(
    "cypher_not_exists_anti",
    "graph",
    oracle=f"""
        WITH {HIERARCHY_SQL}
        SELECT ce.dst AS n, COUNT(*) AS n_cust
        FROM edges ce
        WHERE ce.rel_type = 'customer_of' AND ce.src LIKE 'c:%'
          AND NOT EXISTS (SELECT 1 FROM edges se
                          WHERE se.rel_type = 'supplier_of'
                            AND se.src LIKE 's:%' AND se.dst = ce.dst)
        GROUP BY ce.dst ORDER BY n
    """,
    notes=(
        "NOT EXISTS { pattern } — the anti-join form (supply-gap "
        "screening: nations with customer demand and NO local supplier; "
        "the negative-space conflict query a migrating user writes next "
        "after the EXISTS form). Same sub-pattern machinery, LEFT ANTI "
        "join on the anchor; composes with an ordinary residual conjunct "
        "(c.id STARTS WITH), which stays in the post-filter. Oracle: "
        "correlated NOT EXISTS"
    ),
)
def cypher_not_exists_anti(spark, sf_dir):
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH (c)-[:CUSTOMER_OF]->(n)
           WHERE NOT EXISTS { (s:Supplier)-[:SUPPLIER_OF]->(n) }
                 AND c.id STARTS WITH 'c:'
           RETURN n, count(*) AS n_cust ORDER BY n""",
    )


@register(
    "cypher_case_expression",
    "graph",
    oracle=f"""
        WITH {HIERARCHY_SQL}
        SELECT CASE WHEN ROUND(weight, 6) >= 0.1 THEN 'major'
                    WHEN ROUND(weight, 6) >= 0.02 THEN 'mid'
                    ELSE 'minor' END AS tier,
               COUNT(*) AS n_rel
        FROM edges WHERE rel_type = 'customer_of'
        GROUP BY tier ORDER BY tier
    """,
    notes=(
        "CASE WHEN ... THEN ... ELSE ... END in RETURN (round-4 verdict "
        "missing item 4's last piece - Cypher's searched CASE): "
        "relationship-weight banding with the CASE serving as an implicit "
        "GROUP BY key, exactly Cypher's aggregate-keyed-by-expression "
        "semantics. The body maps 1:1 onto Spark SQL CASE after var.prop "
        "tokens (r.weight -> the round-6 path_weight) and string-predicate "
        "rewrites - one in-plan expression, zero extra stages. Oracle: the "
        "same CASE over the round-6 edge weight"
    ),
)
def cypher_case_expression(spark, sf_dir):
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH (c)-[r:CUSTOMER_OF]->(n)
           RETURN CASE WHEN r.weight >= 0.1 THEN 'major'
                       WHEN r.weight >= 0.02 THEN 'mid'
                       ELSE 'minor' END AS tier,
                  count(*) AS n_rel ORDER BY tier""",
    )


@register(
    "cypher_with_topk_rematch",
    "graph",
    oracle=f"""
        WITH {HIERARCHY_SQL},
        top3 AS (
            SELECT dst AS n, COUNT(*) AS n_cust
            FROM edges WHERE rel_type = 'customer_of'
            GROUP BY dst ORDER BY n_cust DESC, n ASC LIMIT 3
        )
        SELECT t.n, t.n_cust, COUNT(*) AS n_sup
        FROM top3 t
        JOIN edges se ON se.rel_type = 'supplier_of'
                     AND se.src LIKE 's:%' AND se.dst = t.n
        GROUP BY t.n, t.n_cust ORDER BY n
    """,
    notes=(
        "WITH ... ORDER BY ... LIMIT ... MATCH — Cypher's "
        "top-k-then-continue idiom (aggregate, keep the top 3 nations by "
        "customer count with a unique-id tiebreak, then re-match suppliers "
        "against only those 3): the stage sort+limit collapses to "
        "TakeOrderedAndProject and the follow-up MATCH joins a 3-row "
        "frame, so the expensive second pattern runs against k rows, not "
        "the corpus — exactly how a saved Neo4j drill-down query scales. "
        "Stage subclause order is openCypher's (ORDER/SKIP/LIMIT, then "
        "WHERE). Oracle: top-3 CTE joined to the supplier edge set"
    ),
)
def cypher_with_topk_rematch(spark, sf_dir):
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH (c)-[:CUSTOMER_OF]->(n)
           WITH n, count(*) AS n_cust ORDER BY n_cust DESC, n ASC LIMIT 3
           MATCH (s:Supplier)-[:SUPPLIER_OF]->(n)
           RETURN n, n_cust, count(*) AS n_sup ORDER BY n""",
    )


@register(
    "cypher_fn_distinct",
    "graph",
    oracle=f"""
        WITH {HIERARCHY_SQL}
        SELECT CAST(COUNT(DISTINCT ce.dst) AS BIGINT) AS n_nations
        FROM edges ce
        JOIN customer cu ON ce.src = 'c:' || cu.c_custkey
        WHERE ce.rel_type = 'customer_of'
          AND lower(cu.c_name) LIKE '%00001%'
    """,
    notes=(
        "toLower()/toUpper() scalar functions + WITH DISTINCT (round-5 "
        "grammar breadth): the case-insensitive name screen every saved "
        "compliance query uses, piped through WITH DISTINCT to count "
        "affected nations once each. toLower maps onto Spark's lower() "
        "inside the same outside-quotes rewrite as var.prop tokens, and "
        "the string-predicate compiler accepts function-wrapped operands "
        "(lower(c__name) CONTAINS ... -> LIKE). Oracle: lower() LIKE over "
        "the customer names with COUNT(DISTINCT nation)"
    ),
)
def cypher_fn_distinct(spark, sf_dir):
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH (c)-[:CUSTOMER_OF]->(n)
           WHERE toLower(c.name) CONTAINS '00001'
           WITH DISTINCT n
           RETURN count(*) AS n_nations""",
    )


@register(
    "cypher_multi_segment_weights",
    "graph",
    oracle=f"""
        WITH {HIERARCHY_SQL}
        SELECT no.dst AS reg,
               COUNT(*) AS n_major,
               ROUND(SUM(ROUND(co.weight, 6)), 6) AS tot_share
        FROM edges co
        JOIN edges no ON no.rel_type = 'nation_of' AND no.src = co.dst
        WHERE co.rel_type = 'customer_of' AND ROUND(co.weight, 6) >= 0.05
        GROUP BY no.dst ORDER BY reg
    """,
    notes=(
        "per-segment relationship weights in a multi-segment pattern "
        "(round-5: closes the documented 'r.weight is single-segment-only' "
        "limit): each referenced 1..1 segment carries its edge weight as "
        "its own column, so r1.weight filters/aggregates while the "
        "pattern spans customer->nation->region — Neo4j's rule exactly (a "
        "bare rel variable needs a single-hop segment; var-length binds a "
        "list and is rejected at parse time). sum() keeps the round-6 "
        "float-hash discipline. Oracle: double self-join over the edge "
        "CTE with the same rounding"
    ),
)
def cypher_multi_segment_weights(spark, sf_dir):
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH (c)-[r1:CUSTOMER_OF]->(n)-[r2:NATION_OF]->(reg)
           WHERE r1.weight >= 0.05
           RETURN reg, count(*) AS n_major, sum(r1.weight) AS tot_share
           ORDER BY reg""",
    )


@register(
    "cypher_expr_coalesce",
    "graph",
    oracle=f"""
        WITH {HIERARCHY_SQL},
        sup_per_nation AS (
            SELECT se.dst AS n, MIN(su.s_name) AS msup, COUNT(*) AS nsup
            FROM edges se
            JOIN supplier su ON 's:' || su.s_suppkey = se.src
            WHERE se.rel_type = 'supplier_of'
            GROUP BY se.dst
        )
        SELECT ce.src AS c,
               COALESCE(sp.msup, 'no-local-supplier') AS first_sup,
               COALESCE(sp.nsup, 0) AS n_sup
        FROM edges ce
        LEFT JOIN sup_per_nation sp ON sp.n = ce.dst
        WHERE ce.rel_type = 'customer_of'
        ORDER BY c
    """,
    notes=(
        "scalar expression items in RETURN/WITH (round-5: the `expr AS x` "
        "surface — SURVEY 2.2's Cypher provenance): coalesce over an "
        "OPTIONAL MATCH null-extension, the single most common projection "
        "idiom after a left-join pattern. Expression bodies map var.prop/"
        "toLower/string-predicates like CASE and every bare identifier "
        "must be a known column or an allow-listed SQL function, so typos "
        "fail at parse time. Round-7 reshape (r6 verdict task 1): the old "
        "declared query returned one row per (customer x co-national "
        "supplier) BINDING — ~quadratic in sf (measured 39.9x/decade) — "
        "and a first-cut per-customer min/count still measured 31.5x/"
        "decade because the per-binding JOIN INTERMEDIATE is itself "
        "quadratic (100x pairs per decade; partial aggregation bounds "
        "materialization, not work). The declared query now aggregates "
        "BELOW the join — Cypher's aggregate-then-rematch pipeline: "
        "WITH DISTINCT n -> OPTIONAL MATCH suppliers -> min/count per "
        "NATION (dimension-sized) -> re-MATCH customers on n. Every "
        "stage is linear in sf; the nation-level aggregate broadcasts. "
        "Measured 1.53 s @ sf0.1 -> 1.76 s @ 10x replica (1.15x/decade — "
        "overhead floor). "
        "The coalesce-over-OPTIONAL surface is intact: min(s.name) over "
        "a null-extended frame yields NULL, coalesce fills it. Oracle: "
        "per-nation aggregate subquery LEFT JOINed to customers"
    ),
)
def cypher_expr_coalesce(spark, sf_dir):
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH (c0)-[:CUSTOMER_OF]->(n)
           WITH DISTINCT n
           OPTIONAL MATCH (s:Supplier)-[:SUPPLIER_OF]->(n)
           WITH n, min(s.name) AS msup, count(s) AS nsup
           MATCH (c)-[:CUSTOMER_OF]->(n)
           RETURN c, coalesce(msup, 'no-local-supplier') AS first_sup,
                  nsup AS n_sup
           ORDER BY c""",
    )


@register(
    "cypher_property_map",
    "graph",
    oracle=f"""
        WITH {HIERARCHY_SQL}
        SELECT ce.src AS c, ce.dst AS n,
               COALESCE(sx.s_name, 'no-match') AS sup
        FROM edges ce
        JOIN nation na ON 'n:' || na.n_nationkey = ce.dst
                      AND na.n_name = 'NATION_3'
        LEFT JOIN (
            SELECT se.src, se.dst, su.s_name
            FROM edges se
            JOIN supplier su ON 's:' || su.s_suppkey = se.src
            WHERE se.rel_type = 'supplier_of'
              AND su.s_name = 'Supplier#000000001'
        ) sx ON sx.dst = ce.dst
        WHERE ce.rel_type = 'customer_of'
        ORDER BY c
    """,
    notes=(
        "inline node property maps (round-7, r6 verdict task 2 — the "
        "single most common Neo4j idiom in saved queries): "
        "`(n {name: 'X'})` desugars at parse time to `n.name = 'X'` WHERE "
        "conjuncts that re-enter the existing scoping/pushdown machinery "
        "(cypher.py _parse_prop_map). Clause-0 maps ride the trailing "
        "WHERE — an id equality on the start variable reaches src_pred, "
        "i.e. the filter sits ON THE SCAN below the first join (plan-"
        "verified); maps on an OPTIONAL MATCH clause filter per-clause "
        "BEFORE the left join, so non-matching rows null-extend (Neo4j "
        "property-map scoping — the oracle's filtered-subquery LEFT JOIN "
        "mirrors exactly that shape). Scale: the map is a constant "
        "predicate — selectivity reaches the scan (label prefix + "
        "attribute equi-join are broadcast-sized), no new shuffle. "
        "Declared query: customers of NATION_3, optionally matched "
        "against one named supplier in the same nation"
    ),
)
def cypher_property_map(spark, sf_dir):
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH (c:Customer)-[:CUSTOMER_OF]->(n {name: 'NATION_3'})
           OPTIONAL MATCH (s:Supplier {name: 'Supplier#000000001'})-[:SUPPLIER_OF]->(n)
           RETURN c, n, coalesce(s.name, 'no-match') AS sup
           ORDER BY c""",
    )


@register(
    "cypher_path_variable",
    "graph",
    oracle=f"""
        WITH {HIERARCHY_SQL},
        lvl1 AS (
            SELECT ce.src AS c, ce.dst AS x, 1 AS len,
                   ce.src || '|' || ce.dst AS path_nodes,
                   ce.src || '>' || ce.dst AS path_rels
            FROM edges ce
            WHERE ce.rel_type = 'customer_of' AND ce.src LIKE 'c:1%'
        ),
        lvl2 AS (
            SELECT l.c, e.dst AS x, 2 AS len,
                   l.path_nodes || '|' || e.dst AS path_nodes,
                   l.path_rels || '|' || e.src || '>' || e.dst AS path_rels
            FROM lvl1 l
            JOIN edges e ON e.src = l.x AND e.rel_type = 'nation_of'
        )
        SELECT c, x, len, path_nodes, path_rels FROM lvl1
        UNION ALL
        SELECT c, x, len, path_nodes, path_rels FROM lvl2
        ORDER BY c, x
    """,
    notes=(
        "general path variables (round-7, r6 verdict task 3): "
        "`MATCH p = (c)-[:T1|T2*1..2]->(x)` binds the first clause's "
        "single-chain pattern; `length(p)` maps to the per-path hops "
        "column, `relationships(p)` exposes the edge-key array the trail "
        "machinery already carries, and `nodes(p)` replays those keys "
        "from src ROW-LOCALLY (aggregate HOF picking the far endpoint "
        "each hop — correct for directed and undirected traversals, no "
        "extra join or shuffle; cypher.py single-branch). shortestPath's "
        "path binding keeps its length()-only surface (BFS computes "
        "distances, it does not enumerate). Declared query stringifies "
        "the arrays (array_join) for the driver's scalar-cell hash — the "
        "Cypher surface itself returns real arrays (tests assert them). "
        "Scale: path enumeration is the documented bounded-traversal "
        "posture (hop bound required, src_pred seeds the frontier below "
        "the first join); the path columns add O(hops) width per row, "
        "nothing corpus-sized. Oracle: explicit two-level union with the "
        "same string encodings"
    ),
)
def cypher_path_variable(spark, sf_dir):
    from mimranalytics_core_spark import api

    df = api.cypher(
        spark,
        sf_dir,
        """MATCH p = (c)-[:CUSTOMER_OF|NATION_OF*1..2]->(x)
           WHERE c.id STARTS WITH 'c:1'
           RETURN c, x, length(p) AS len, nodes(p) AS pnodes,
                  relationships(p) AS prels
           ORDER BY c, x""",
    )
    return df.select(
        "c",
        "x",
        "len",
        F.array_join("pnodes", "|").alias("path_nodes"),
        F.array_join("prels", "|").alias("path_rels"),
    )


@register(
    "cypher_cycle_pattern",
    "graph",
    oracle="""
        WITH bf AS (
            SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
            FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
            WHERE o.o_custkey < 50 AND l.l_suppkey < 50
        ),
        cl AS (
            SELECT DISTINCT s.s_suppkey AS s, c.c_custkey AS c
            FROM supplier s JOIN customer c ON c.c_nationkey = s.s_nationkey
            WHERE s.s_suppkey < 50 AND c.c_custkey < 50
        )
        SELECT 'c:' || bf.c AS a, COUNT(*) AS n_cycles
        FROM bf JOIN cl ON bf.s = cl.s AND bf.c = cl.c
        GROUP BY a
        ORDER BY a
    """,
    notes=(
        "CYCLE-CLOSING patterns (round-13): a node variable may repeat "
        "within one chain — `(a)-[:BUYS_FROM]->(b)-[:CO_LOCATED]->(a)`, "
        "Neo4j's cycle idiom, previously rejected by the within-chain "
        "distinctness guard. The repeated endpoint is a shared-column "
        "join between its two segments, which the multi-segment frame "
        "machinery performs anyway (closed-walk semantics; trail "
        "uniqueness still applies across the clause, so the same edge "
        "never binds two relationship slots — verified: a duplicated "
        "chain matches zero rows, as in Neo4j). Immediate self-loops "
        "keep a targeted error (no graph view carries self edges). "
        "Declared query: the trade-credit 2-cycles — customers buying "
        "from suppliers co-located in their own nation (the "
        "circular-ownership analog on the bounded cyclic digraph) — "
        "grouped per customer. Scale: two rel-type-pruned edge scans "
        "hash-joined on BOTH endpoints; the bounded subgraph posture of "
        "the trade-credit view applies. Oracle: the same distinct-pair "
        "joins relationally"
    ),
)
def cypher_cycle_pattern(spark, sf_dir):
    """(a)-[:BUYS_FROM]->(b)-[:CO_LOCATED]->(a) — cycle closure by
    variable repetition (round-13; cypher.py chain-parse note)."""
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        "MATCH (a)-[:BUYS_FROM]->(b)-[:CO_LOCATED]->(a) "
        "RETURN a, count(*) AS n_cycles ORDER BY a",
        graph="trade_credit",
    )


@register(
    "cypher_schema_procedures",
    "graph",
    oracle="""
        SELECT * FROM (VALUES
            ('label', 'Customer'), ('label', 'Nation'),
            ('label', 'Order'), ('label', 'Part'),
            ('label', 'Region'), ('label', 'Supplier'),
            ('relationshipType', 'CONTAINS'),
            ('relationshipType', 'CUSTOMER_OF'),
            ('relationshipType', 'NATION_OF'),
            ('relationshipType', 'PLACED'),
            ('relationshipType', 'SUPPLIER_OF'),
            ('relationshipType', 'SUPPLIES')
        ) AS t(kind, name)
        ORDER BY kind, name
    """,
    notes=(
        "the minimal schema-procedure registry (round-13, r12 VERDICT "
        "#4): stand-alone `CALL db.labels()` / `db.relationshipTypes()` / "
        "`db.propertyKeys()` — Neo4j client tooling fires these "
        "automatically on connect, so their absence broke drop-in "
        "drivers even though /schema served the same facts over HTTP. "
        "Backed by the same catalog contract the /schema endpoint "
        "serves; propertyKeys reads the routed node view's COLUMN LIST "
        "(schema metadata, never a scan); optional YIELD must name the "
        "procedure's one output column; every other procedure keeps the "
        "targeted no-registry error, now naming the supported three. "
        "Declared query unions labels + relationship types on the "
        "business graph (propertyKeys is pinned by "
        "tests/test_round13_ops.py against the live attribute view — "
        "its column list is engine metadata, not table data, so the "
        "VALUES oracle covers the data-shaped surface). Scale: all "
        "three are literal-sized metadata relations — no scan at any SF. "
        "Oracle: the same VALUES list"
    ),
)
def cypher_schema_procedures(spark, sf_dir):
    """CALL db.labels() + db.relationshipTypes() on the business graph,
    unioned as (kind, name) rows — the connect-time introspection surface."""
    from mimranalytics_core_spark import api

    labs = api.cypher(spark, sf_dir, "CALL db.labels()", graph="business")
    rels = api.cypher(
        spark, sf_dir, "CALL db.relationshipTypes()", graph="business"
    )
    return (
        labs.select(F.lit("label").alias("kind"), F.col("label").alias("name"))
        .unionByName(
            rels.select(
                F.lit("relationshipType").alias("kind"),
                F.col("relationshipType").alias("name"),
            )
        )
        .orderBy("kind", "name")
    )


@register(
    "cypher_shortest_path_nodes",
    "graph",
    oracle=f"""
        WITH {HIERARCHY_SQL},
        lvl1 AS (
            SELECT ce.src, ce.dst,
                   ce.src || '|' || ce.dst AS pn
            FROM edges ce
            WHERE ce.rel_type = 'customer_of' AND ce.src LIKE 'c:1%'
        ),
        lvl2 AS (
            SELECT l.src, e.dst,
                   l.pn || '|' || e.dst AS pn
            FROM lvl1 l
            JOIN edges e ON e.src = l.dst AND e.rel_type = 'nation_of'
        )
        SELECT src, dst, 1 AS hops, pn AS path_nodes FROM lvl1
        UNION ALL
        SELECT src, dst, 2 AS hops, pn AS path_nodes FROM lvl2
        ORDER BY src, dst
    """,
    notes=(
        "shortestPath() PATH RECONSTRUCTION (round-13, r12 VERDICT #3): "
        "nodes(p)/relationships(p) on shortestPath patterns now return "
        "the actual chain — F1/F2's 'show me the ownership chain' needs "
        "the chain, not just its length. The BFS "
        "(functions/graph_algos.multi_source_shortest_paths) carries an "
        "O(depth) node-id array per frontier row and collapses same-level "
        "ties with a deterministic array-min — still level-synchronous, "
        "one join + anti-join + agg per level for ALL sources at once, "
        "never enumerating the path SET (allShortestPaths keeps its "
        "targeted error: σ counts without enumerating). "
        "relationships(p) derives the 'a>b' edge keys row-locally from "
        "consecutive node pairs (transform over the array — the same "
        "encoding the trail machinery carries). Scale: supersteps = hop "
        "bound at any |V|; the array adds O(depth) row width, nothing "
        "corpus-sized. Oracle: the hierarchy is a TREE from any customer "
        "(one outgoing edge per tier), so the min-hop path is the unique "
        "chain — two explicit levels with the same string encoding. "
        "Declared query stringifies the array for the driver's "
        "scalar-cell hash; the Cypher surface returns real arrays "
        "(tests/test_round13_ops.py asserts them)"
    ),
)
def cypher_shortest_path_nodes(spark, sf_dir):
    """shortestPath((a)-[*1..4]->(b)) with nodes(p) reconstruction —
    the ownership-chain rendering surface (r12 VERDICT 'missing' #3)."""
    from mimranalytics_core_spark import api

    df = api.cypher(
        spark,
        sf_dir,
        """MATCH p = shortestPath((a)-[*1..4]->(b))
           WHERE a.id STARTS WITH 'c:1'
           RETURN a.id AS src, b.id AS dst, length(p) AS hops,
                  nodes(p) AS pn
           ORDER BY src, dst""",
    )
    return df.select(
        "src", "dst", "hops", F.array_join("pn", "|").alias("path_nodes")
    )


@register(
    "cypher_path_projection",
    "graph",
    oracle=f"""
        WITH {HIERARCHY_SQL},
        lvl1 AS (
            SELECT ce.src AS c, ce.dst AS x, 1 AS hops,
                   [ce.src, ce.dst] AS pn
            FROM edges ce
            WHERE ce.rel_type = 'customer_of' AND ce.src LIKE 'c:1%'
        ),
        lvl2 AS (
            SELECT l.c, e.dst AS x, 2 AS hops,
                   [l.c, l.x, e.dst] AS pn
            FROM lvl1 l
            JOIN edges e ON e.src = l.x AND e.rel_type = 'nation_of'
        ),
        paths AS (
            SELECT * FROM lvl1 UNION ALL SELECT * FROM lvl2
        ),
        ex AS (SELECT hops, UNNEST(pn) AS z FROM paths)
        SELECT z AS node_id,
               COUNT(*) AS n_paths,
               MIN(hops + 1) AS min_size,
               MAX(hops) AS max_hops
        FROM ex
        GROUP BY z
        ORDER BY node_id
    """,
    notes=(
        "composable path expressions (round-13, r12 VERDICT #1): "
        "count(p) aliases to count(*) — the trail machinery emits one "
        "row per matched path, so counting the path variable IS counting "
        "rows (Neo4j's most common tutorial idiom); nodes(p)/"
        "relationships(p)/length(p) now rewrite to the per-path "
        "row-stream columns BEFORE the pipeline scanner (quote-aware "
        "tail pass, cypher.py), so they nest inside any expression — "
        "size(nodes(p)) takes the cardinality() list path — and "
        "`UNWIND nodes(p) AS z` works bare after MATCH (a pattern-scope "
        "row UNWIND: one row-local explode over the matched frame, "
        "before the attribute joins, so z's properties resolve through "
        "the ordinary global prop join). Scale: the explode multiplies "
        "rows by O(hops) — bounded by the declared hop cap, never "
        "corpus-sized; no extra join or shuffle anywhere in the path "
        "(the path columns ride the frame row-locally). Oracle: "
        "two-level union + UNNEST over the same list encodings"
    ),
)
def cypher_path_projection(spark, sf_dir):
    """count(p) + size(nodes(p)) + UNWIND nodes(p) in one query — the
    round-13 path-projection surface (r12 VERDICT 'what's missing' #1/#2)."""
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH p = (c)-[:CUSTOMER_OF|NATION_OF*1..2]->(x)
           WHERE c.id STARTS WITH 'c:1'
           UNWIND nodes(p) AS z
           RETURN z AS node_id, count(p) AS n_paths,
                  min(size(nodes(p))) AS min_size, max(length(p)) AS max_hops
           ORDER BY node_id""",
    )


@register(
    "cypher_in_list_fns",
    "graph",
    oracle="""
        SELECT 'n:' || c.c_nationkey AS n,
               COUNT(*) AS n_cust,
               CAST(length(na.n_name) AS VARCHAR) AS len_str
        FROM customer c
        JOIN nation na ON na.n_nationkey = c.c_nationkey
        WHERE na.n_name IN ('NATION_1', 'NATION_3')
          AND c.c_custkey % 2 = 0
        GROUP BY 1, 3
        ORDER BY n
    """,
    notes=(
        "round-7 migration-idiom batch: `IN [a, b, ...]` list membership "
        "(whole-query length-preserving bracket->paren rewrite, quote-"
        "aware — composes with $param-bound lists), `size()` -> length() "
        "(string context), `toString()`/`toInteger()`/`toFloat()` -> "
        "CASTs with nested-paren-aware argument capture (cypher.py "
        "_fn_rewrite/_rewrite_in_lists). Declared query: IN-list over a "
        "joined property in WHERE + toInteger(substring(...)) % 2 "
        "arithmetic + toString(size(...)) as a grouped expression item. "
        "Scale: all rewrites are parse-time text transforms; the IN "
        "filter is a constant predicate Catalyst pushes like any other "
        "(below the join when it names only the start variable). Oracle: "
        "plain SQL IN + CASTs on the relational tables"
    ),
)
def cypher_in_list_fns(spark, sf_dir):
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH (c:Customer)-[:CUSTOMER_OF]->(n)
           WHERE n.name IN ['NATION_1', 'NATION_3']
             AND toInteger(substring(c.id, 2)) % 2 = 0
           RETURN n, count(*) AS n_cust,
                  toString(size(n.name)) AS len_str
           ORDER BY n""",
    )


@register(
    "cypher_pattern_predicate",
    "graph",
    oracle=f"""
        WITH {HIERARCHY_SQL}
        SELECT ce.dst AS n, COUNT(*) AS n_cust
        FROM edges ce
        WHERE ce.rel_type = 'customer_of'
          AND NOT EXISTS (
              SELECT 1 FROM edges se
              WHERE se.rel_type = 'supplier_of' AND se.dst = ce.dst
          )
        GROUP BY ce.dst
        ORDER BY n
    """,
    notes=(
        "bare pattern predicates (round-7): `WHERE [NOT] (a)-[:X]->(b)` — "
        "Neo4j's ORIGINAL existential idiom, predating EXISTS {} — "
        "recognized structurally as a top-level AND conjunct and compiled "
        "through the same machinery as EXISTS {}: the pattern becomes its "
        "own sub-query, distinct'd on the correlation anchors and LEFT "
        "SEMI-joined (ANTI for NOT) onto the match frame — no row "
        "multiplication, probing stops on first match. Composes with "
        "inline property maps inside the pattern and with ordinary "
        "conjuncts. Declared query: nations whose customers have NO "
        "co-national supplier, with customer counts — the anti-join plan "
        "shape that survives scale. Oracle: NOT EXISTS correlated "
        "subquery over the same edge CTE"
    ),
)
def cypher_pattern_predicate(spark, sf_dir):
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH (c)-[:CUSTOMER_OF]->(n)
           WHERE NOT (s:Supplier)-[:SUPPLIER_OF]->(n)
           RETURN n, count(*) AS n_cust
           ORDER BY n""",
    )


@register(
    "cypher_agg_percentiles",
    "graph",
    oracle=f"""
        WITH {HIERARCHY_SQL}
        SELECT ce.dst AS n,
               ROUND(STDDEV_SAMP(ROUND(ce.weight, 6)), 6) AS sd,
               ROUND(STDDEV_POP(ROUND(ce.weight, 6)), 6) AS sdp,
               ROUND(quantile_cont(ROUND(ce.weight, 6), 0.5), 6) AS p50,
               ROUND(quantile_disc(ROUND(ce.weight, 6), 0.5), 6) AS p50d
        FROM edges ce
        WHERE ce.rel_type = 'customer_of'
        GROUP BY ce.dst
        ORDER BY n
    """,
    notes=(
        "the rest of Neo4j's aggregate set (round-7): stDev/stDevP -> "
        "stddev_samp/stddev_pop, percentileCont -> Spark percentile() "
        "(SQL-standard (n-1)*q interpolation, the same definition DuckDB's "
        "quantile_cont uses — verified exact, 0 mismatches), and "
        "percentileDisc computed EXACTLY as the sorted element at 1-based "
        "index ceil(q*n) (the SQL-standard smallest-value-with-cume_dist"
        ">=q; matches DuckDB quantile_disc bit-for-bit). All round-6 per "
        "the float-hash discipline; inputs are the per-pair round-6 "
        "relationship weights. Scale: stDev/percentileCont are one-pass "
        "partial aggregates; percentileDisc sorts per GROUP (key-bounded "
        "here — 25 nations); corpus-scale percentiles are the declared "
        "approx-sketch op (agg_approx_percentile). Oracle: DuckDB "
        "stddev/quantile twins on the same edge CTE"
    ),
)
def cypher_agg_percentiles(spark, sf_dir):
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH (c)-[r:CUSTOMER_OF]->(n)
           RETURN n, stDev(r.weight) AS sd, stDevP(r.weight) AS sdp,
                  percentileCont(r.weight, 0.5) AS p50,
                  percentileDisc(r.weight, 0.5) AS p50d
           ORDER BY n""",
    )


@register(
    "cypher_node_match",
    "graph",
    oracle="""
        SELECT 'n:' || n_nationkey AS n, n_name AS name
        FROM nation
        WHERE n_name LIKE 'NATION_1%'
        ORDER BY name
    """,
    notes=(
        "node-only MATCH (round-7): `MATCH (n:Nation) WHERE ... RETURN "
        "n, n.name` — Neo4j's most basic clause, previously rejected "
        "('pattern needs at least one relationship'). The clause frame is "
        "the node-id column of the graph's node view (four narrow "
        "projections + union — no shuffle, no edges touched); the label "
        "prefix and the STARTS WITH predicate filter it, the attribute "
        "join resolves n.name. Scale: label + prefix predicates reach the "
        "underlying table scans; a node-only frame is dimension-sized "
        "here and never wider than one column per variable at any SF. "
        "Oracle: plain projection of the nation table"
    ),
)
def cypher_node_match(spark, sf_dir):
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH (n:Nation)
           WHERE n.name STARTS WITH 'NATION_1'
           RETURN n, n.name AS name
           ORDER BY name""",
    )


@register(
    "cypher_graph_introspect",
    "graph",
    oracle="""
        SELECT 'CUSTOMER_OF' AS rel,
               'Customer' AS src_label,
               'Nation' AS dst_label,
               MIN('c:' || c_custkey) AS first_src,
               COUNT(*) AS cnt
        FROM customer
    """,
    notes=(
        "graph-introspection functions (round-7): type(r) folds at parse "
        "time to the segment's declared relationship-type literal, "
        "labels(v) to the one-element label array (a literal for "
        "inline-labeled variables, array(initcap(v.label)) over the "
        "attribute view otherwise), startNode(r)/endNode(r) to the "
        "segment's endpoint variables — all statically resolved against "
        "the parsed pattern, so none of them cost a runtime join beyond "
        "the attribute lookup labels() of an UNLABELED variable needs "
        "(exercised here via labels(c)). Scale: constant-folded "
        "expressions are free; the one attribute join is the same "
        "equi-join every property access uses. Oracle: literals + "
        "count over the customer table (one customer_of edge per "
        "customer by construction)"
    ),
)
def cypher_graph_introspect(spark, sf_dir):
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH (c)-[r:CUSTOMER_OF]->(n:Nation)
           RETURN type(r) AS rel,
                  array_join(labels(c), '|') AS src_label,
                  array_join(labels(n), '|') AS dst_label,
                  min(startNode(r)) AS first_src,
                  count(*) AS cnt""",
    )


@register(
    "cypher_unwind_range",
    "graph",
    oracle="""
        SELECT COUNT(*) AS n,
               CAST(SUM(x) AS BIGINT) AS total,
               MIN(x) AS lo, MAX(x) AS hi
        FROM range(1, 21, 3) t(x)
    """,
    notes=(
        "UNWIND range(a, b[, step]) (round-7): Neo4j's integer sequence "
        "generator, INCLUSIVE stop. Compiled to a lazy spark.range "
        "relation instead of a literal array, so `range(1, 1000000)` "
        "never builds a million-literal plan — the sequence is generated "
        "distributed, in-executor, with no driver materialization. "
        "Oracle: DuckDB's (exclusive-stop) range table function"
    ),
)
def cypher_unwind_range(spark, sf_dir):
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """UNWIND range(1, 20, 3) AS x
           RETURN count(*) AS n, sum(x) AS total, min(x) AS lo, max(x) AS hi""",
    )


@register(
    "cypher_regex_match",
    "graph",
    oracle="""
        SELECT 'n:' || n_nationkey AS n,
               'id,label,name,nationkey,regionkey' AS ks,
               COUNT(*) AS n_cust
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        WHERE regexp_full_match(n_name, 'NATION_(1[0-9]|3)')
          AND c_name IS NOT NULL
        GROUP BY 1
        ORDER BY n
    """,
    notes=(
        "Neo4j regex-match operator and property introspection (round-7 "
        "second half): `expr =~ 'pattern'` rewrites to anchored RLIKE "
        "'^(?:pattern)$' — Neo4j matches the WHOLE string, Spark RLIKE "
        "finds anywhere, so the non-capturing anchor group restores "
        "full-match parity (both engines use Java regex; the pattern "
        "body passes through verbatim, literal-aware so '=~' inside a "
        "string stays data and a non-literal pattern is rejected rather "
        "than silently partial-matching). `exists(c.name)` (the legacy "
        "property-exists function) folds to IS NOT NULL; `keys(n)` on an "
        "unlabeled variable resolves per-label at runtime (row-local CASE "
        "on the id prefix — round-9). Scale: the regex filter "
        "sits on the broadcast-small nation side below the join; "
        "constant-folded keys() costs nothing. Oracle: DuckDB "
        "regexp_full_match — the anchored-semantics twin"
    ),
)
def cypher_regex_match(spark, sf_dir):
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH (c:Customer)-[:CUSTOMER_OF]->(n)
           WHERE n.name =~ 'NATION_(1[0-9]|3)' AND exists(c.name)
           RETURN n, array_join(keys(n), ',') AS ks, count(*) AS n_cust
           ORDER BY n""",
    )


@register(
    "graph_timeline_metrics",
    "graph",
    oracle="""
        WITH cs AS (
            SELECT 'owns_stake' AS rel_type,
                   MIN(o_orderdate) AS vf, MAX(o_orderdate) AS vt
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
            GROUP BY o_custkey, l_suppkey
        ), sn AS (
            SELECT 'supplier_of' AS rel_type,
                   MIN(l_shipdate) AS vf, MAX(l_shipdate) AS vt
            FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
            GROUP BY l_suppkey, s_nationkey
        ), e AS (
            SELECT rel_type, year(vf) AS yf, year(vt) AS yt
            FROM (SELECT * FROM cs UNION ALL SELECT * FROM sn)
            WHERE year(vt) >= 1992 AND year(vf) <= 1998
        ), expanded AS (
            SELECT rel_type, yf, yt,
                   unnest(generate_series(greatest(yf, 1992),
                                          least(yt, 1998))) AS y
            FROM e
        )
        SELECT y, rel_type,
               COUNT(*) AS n_active,
               CAST(SUM(CASE WHEN yf = y THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
               CAST(SUM(CASE WHEN yt = y THEN 1 ELSE 0 END) AS BIGINT) AS n_expired
        FROM expanded
        GROUP BY y, rel_type
        ORDER BY y, rel_type
    """,
    notes=(
        "Time-Slider EVOLUTION series (reference README.md:17 — 'visualize "
        "how corporate structures have evolved over years'): per-year "
        "active/new/expired edge counts for the temporal ownership tiers, "
        "computed in ONE pass. Instead of re-running an as-of snapshot per "
        "year (N scans + N joins — the naive Time-Slider backend), each "
        "edge row-locally explodes into the years of its clipped validity "
        "interval (sequence(year(valid_from)..year(valid_to)) bounded to "
        "the 1992-1998 observation window, max fan-out 7) and one "
        "map-side-combined groupBy(year, rel_type) folds the series. "
        "Scale: the only shuffles are the two edge-derivation groupBys "
        "(same as every temporal op) plus one 14-group agg; the explode "
        "multiplies rows by <=7 BEFORE partial aggregation collapses them "
        "per partition, so the shuffle carries ~years x rel_types x "
        "partitions rows, not edges x years. The out-of-window filter "
        "also guards sequence() against a descending start>stop range. "
        "Oracle: DuckDB generate_series/unnest twin"
    ),
)
def graph_timeline_metrics(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    sup = t(spark, sf_dir, "supplier")
    lo, hi = 1992, 1998
    cs = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_custkey", "l_suppkey")
        .agg(
            F.min("o_orderdate").alias("valid_from"),
            F.max("o_orderdate").alias("valid_to"),
        )
        .select(
            F.lit("owns_stake").alias("rel_type"),
            F.year("valid_from").alias("yf"),
            F.year("valid_to").alias("yt"),
        )
    )
    sn = (
        li.join(sup, li.l_suppkey == sup.s_suppkey)
        .groupBy("l_suppkey", "s_nationkey")
        .agg(
            F.min("l_shipdate").alias("valid_from"),
            F.max("l_shipdate").alias("valid_to"),
        )
        .select(
            F.lit("supplier_of").alias("rel_type"),
            F.year("valid_from").alias("yf"),
            F.year("valid_to").alias("yt"),
        )
    )
    edges = cs.unionByName(sn).filter(
        (F.col("yt") >= lo) & (F.col("yf") <= hi)
    )
    return (
        edges.withColumn(
            "y",
            F.explode(
                F.sequence(
                    F.greatest(F.col("yf"), F.lit(lo)),
                    F.least(F.col("yt"), F.lit(hi)),
                )
            ),
        )
        .groupBy("y", "rel_type")
        .agg(
            F.count("*").alias("n_active"),
            F.sum(F.when(F.col("yf") == F.col("y"), 1).otherwise(0)).alias("n_new"),
            F.sum(F.when(F.col("yt") == F.col("y"), 1).otherwise(0)).alias(
                "n_expired"
            ),
        )
        .orderBy("y", "rel_type")
    )


def _eigen_oracle_sql(iters: int = 12) -> str:
    """Unrolled fixed-``iters`` power-method oracle for eigenvector
    centrality (the pagerank-oracle recipe: one CTE triple per iteration,
    the exact recurrence graph_algos.eigenvector runs — xₖ₊₁ = A·xₖ / ‖A·xₖ‖₂
    over the symmetrized adjacency, x₀ = 1). The double-referenced
    per-step CTEs (f_k feeds both the norm and the update) MUST be
    MATERIALIZED: DuckDB otherwise inlines each reference and the plan
    grows ~5× per unrolled step (measured 56 s at 9 steps, ~hours at
    12; materialized: milliseconds)."""
    steps = []
    prev = "x0"
    for k in range(1, iters + 1):
        steps.append(
            f"""
        r{k} AS (SELECT s.dst AS node, SUM(x.v) AS raw
                 FROM sym s JOIN {prev} x ON s.src = x.node GROUP BY s.dst),
        f{k} AS MATERIALIZED (
                 SELECT nodes.node, COALESCE(r{k}.raw, 0.0) AS raw
                 FROM nodes LEFT JOIN r{k} ON nodes.node = r{k}.node),
        n{k} AS (SELECT SQRT(SUM(raw * raw)) AS nrm FROM f{k}),
        x{k} AS MATERIALIZED (
                 SELECT node,
                        CASE WHEN nrm > 0 THEN raw / nrm ELSE 0.0 END AS v
                 FROM f{k} CROSS JOIN n{k})"""
        )
        prev = f"x{k}"
    return f"""
        WITH {HIERARCHY_SQL},
        sym AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
                  SELECT src, dst FROM edges
                  UNION ALL SELECT dst AS src, src AS dst FROM edges)),
        nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM sym),
        x0 AS (SELECT node, 1.0 AS v FROM nodes),
        {",".join(steps)}
        SELECT node, FLOOR(v * 1000000 + 0.5) / 1000000 AS eig FROM {prev}
    """


@register(
    "graph_eigenvector",
    "graph",
    oracle=_eigen_oracle_sql(iters=12),
    notes=(
        "eigenvector centrality (round-7 — the remaining classic of the "
        "reference's NetworkX centrality surface, README.md:28): fixed "
        "12-iteration power method over the SYMMETRIZED hierarchy graph "
        "(NetworkX Graph semantics; the raw DAG's adjacency is nilpotent "
        "and would converge to zero). Per iteration one superstep of the "
        "power family's shared A*x kernel (graph_algos._spmv), then "
        "L2-normalize by a broadcast scalar folded into the plan (the HITS "
        "pattern — zero driver round-trips); lazy per-iteration "
        "checkpoints cut lineage. Scale: every superstep is join + partial "
        "agg on the node key — the PageRank cost envelope; state coalesced to "
        "8 partitions (dimension-sized vector at any SF). Oracle: the "
        "same recurrence unrolled as 12 CTE triples in DuckDB, "
        "floor-half-up paired to 6 dp like pagerank (hash-checked, not "
        "rows-only)"
    ),
)
def graph_eigenvector(spark, sf_dir):
    from mimranalytics_core_spark.functions.graph_algos import eigenvector

    tables(spark, sf_dir)
    e = catalog.hierarchy_edges(spark, sf_dir).select("src", "dst")
    return eigenvector(e, iters=12, state_partitions=8).select(
        "node",
        (F.floor(F.col("eig") * 1000000 + F.lit(0.5)) / 1000000).alias("eig"),
    )


# Inter-nation trade graph for the spanning-forest op: one undirected edge
# per nation pair that traded (customer's nation <-> supplier's nation),
# weighted by total traded value. Weights are summed as DECIMAL(18,2) so
# Spark and DuckDB produce bit-identical totals (double summation order
# would otherwise make near-tie comparisons engine-dependent); the
# (w, a, b) lexicographic total order then makes the MSF unique.
TRADE_GRAPH_SQL = """
    pairs AS MATERIALIZED (
        SELECT LEAST(c.c_nationkey, s.s_nationkey) AS a,
               GREATEST(c.c_nationkey, s.s_nationkey) AS b,
               SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS w
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        WHERE c.c_nationkey <> s.s_nationkey
        GROUP BY 1, 2
    )
"""


@register(
    "graph_msf",
    "graph",
    oracle=f"""
        WITH RECURSIVE {TRADE_GRAPH_SQL},
        reach AS (
            SELECT a AS ea, b AS eb, w AS ew, a AS node FROM pairs
            UNION
            SELECT r.ea, r.eb, r.ew,
                   CASE WHEN p.a = r.node THEN p.b ELSE p.a END AS node
            FROM reach r JOIN pairs p ON (p.a = r.node OR p.b = r.node)
            WHERE (p.w, p.a, p.b) < (r.ew, r.ea, r.eb)
        )
        SELECT e.a, e.b, CAST(e.w AS DOUBLE) AS w
        FROM pairs e
        WHERE NOT EXISTS (
            SELECT 1 FROM reach r
            WHERE r.ea = e.a AND r.eb = e.b AND r.ew = e.w AND r.node = e.b
        )
    """,
    notes=(
        "minimum spanning forest (round-7 — the classic NetworkX "
        "minimum_spanning_tree surface, README.md:28) of the inter-nation "
        "trade graph: log-round distributed Boruvka "
        "(functions/graph_algos.boruvka_msf) — each component argmins its "
        "cross-component edge by the (w, a, b) total order, contracts via "
        "pointer doubling with a fixpoint early-exit, repeats until no "
        "cross edge remains. Scale: edge build is one shuffled 4-way join "
        "+ partial agg that REDUCES to nation-pair cardinality (tiny at "
        "every SF; nation dim is fixed at 25); Boruvka state is "
        "join/window on component keys only, pinned per round "
        "(checkpoint+cache, see graph_algos._pin) so Catalyst stats can't "
        "compound across the nested self-joins. Weights are exact "
        "DECIMAL(18,2) sums (engine-order-independent); the total order "
        "makes the forest unique, so this is hash-checked, not rows-only. "
        "Oracle: cut property — an edge is in the MSF iff its endpoints "
        "are NOT connected using strictly (w,a,b)-smaller edges; "
        "per-edge reachability as one recursive CTE over the 300-edge "
        "nation graph"
    ),
)
def graph_msf(spark, sf_dir):
    from mimranalytics_core_spark.functions.graph_algos import boruvka_msf

    tb = tables(spark, sf_dir)
    pairs = (
        tb["lineitem"]
        .join(tb["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(tb["customer"].select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(tb["supplier"].select("s_suppkey", "s_nationkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .select(
            F.least("c_nationkey", "s_nationkey").alias("a"),
            F.greatest("c_nationkey", "s_nationkey").alias("b"),
            F.col("l_extendedprice").cast("decimal(18,2)").alias("price"),
        )
        .groupBy("a", "b")
        .agg(F.sum("price").alias("w"))
    )
    msf = boruvka_msf(pairs, rounds=10, jumps=16, state_partitions=4)
    return msf.select("a", "b", F.col("w").cast("double").alias("w"))


@register(
    "cypher_list_predicates",
    "graph",
    oracle="""
        SELECT n.n_name AS nm,
               BOOL_OR(c.c_name LIKE '%1%') AS has1,
               BOOL_AND(c.c_name LIKE 'Customer%') AS allc,
               NOT BOOL_OR(c.c_name LIKE '%zzz%') AS nozzz
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY 1 ORDER BY nm
    """,
    notes=(
        "Cypher list quantifiers (round-7 third leg — any/all/none over a "
        "collected list, openCypher list predicates): compiled to Spark "
        "higher-order functions (exists/forall lambdas, "
        "cypher._rewrite_list_exprs) over the collect() aggregate — "
        "row-local array ops after one partial-agg'd groupBy, zero extra "
        "shuffles, JVM-side codegen (no Python). The lambda variable is "
        "renamed into the double-underscore internal namespace so the "
        "bare-identifier allow-list still catches typos at parse time. "
        "Oracle: BOOL_OR/BOOL_AND over the equivalent group — quantifiers "
        "over a collected list ARE the group-level boolean aggregates"
    ),
)
def cypher_list_predicates(spark, sf_dir):
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH (c:Customer)-[:CUSTOMER_OF]->(n:Nation)
           WITH n.name AS nm, collect(c.name) AS members
           RETURN nm,
                  any(x IN members WHERE x CONTAINS '1') AS has1,
                  all(x IN members WHERE x STARTS WITH 'Customer') AS allc,
                  none(x IN members WHERE x CONTAINS 'zzz') AS nozzz
           ORDER BY nm""",
    )


@register(
    "cypher_reduce_expr",
    "graph",
    oracle="""
        SELECT n.n_name AS nm, CAST(SUM(LENGTH(c.c_name)) AS INT) AS total_len
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY 1 ORDER BY nm
    """,
    notes=(
        "Cypher reduce() fold (round-7 third leg): `reduce(s = 0, x IN "
        "list | s + length(x))` compiles to Spark's aggregate() lambda "
        "(cypher._rewrite_list_exprs) over the collect()ed group — the "
        "fold body runs row-local inside whole-stage codegen; the "
        "accumulator/element variables are renamed into the internal "
        "double-underscore namespace. The declared fold (sum of lengths) "
        "is order-insensitive, so the nondeterministic collect order "
        "cannot leak into the hash. Oracle: the equivalent SQL aggregate "
        "(a fold of + over a group IS a SUM)"
    ),
)
def cypher_reduce_expr(spark, sf_dir):
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH (c:Customer)-[:CUSTOMER_OF]->(n:Nation)
           WITH n.name AS nm, collect(c.name) AS names
           RETURN nm,
                  reduce(s = 0, x IN names | s + size(x)) AS total_len
           ORDER BY nm""",
    )


@register(
    "cypher_list_comprehension",
    "graph",
    oracle="""
        SELECT CAST(x * x AS BIGINT) AS sq
        FROM generate_series(1, 50) AS t(x)
        WHERE x % 7 = 0
    """,
    notes=(
        "Cypher list comprehension (round-7 third leg): `[x IN range(1,50) "
        "WHERE x % 7 = 0 | x * x]` in UNWIND position — the comprehension "
        "compiles to transform(filter(sequence(...))) "
        "(cypher._rewrite_list_exprs; Cypher range() is inclusive like "
        "Spark sequence()) and the expression-form UNWIND explodes it over "
        "a one-row literal relation (broadcast-sized at any SF, like every "
        "UNWIND frame). Oracle: generate_series with the same filter/map"
    ),
)
def cypher_list_comprehension(spark, sf_dir):
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """UNWIND [x IN range(1, 50) WHERE x % 7 = 0 | x * x] AS sq
           RETURN sq""",
    )


@register(
    "cypher_scalar_return",
    "graph",
    oracle="""
        SELECT 2 + 3 AS s, UPPER('ab') AS u, 1 AS h,
               2 AS n, 'NATION_7' AS nm
    """,
    notes=(
        "MATCH-less scalar RETURN (round-7 third leg): Neo4j evaluates "
        "`RETURN expr` over one implicit row — the parser synthesizes a "
        "hidden one-element UNWIND frame (never projected), so the whole "
        "WITH/RETURN pipeline machinery applies unchanged. Exercises "
        "arithmetic, string functions, head() -> null-safe get(), "
        "size([..]) -> cardinality(array(..)), and string concatenation "
        "+ -> || (all cypher._rewrite_list_exprs). Scale: a one-row "
        "local relation — the canonical connectivity/smoke query a "
        "driver fires at session start. Oracle: the same scalars in SQL"
    ),
)
def cypher_scalar_return(spark, sf_dir):
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """RETURN 2 + 3 AS s, toUpper('ab') AS u, head([1, 2, 3]) AS h,
                  size([1, 2]) AS n, 'NATION_' + '7' AS nm""",
    )


@register(
    "cypher_property_numeric",
    "graph",
    oracle="""
        SELECT n.n_name AS nm, COUNT(*) AS n_rich,
               ROUND(SUM(c.c_acctbal) * 100) / 100 AS total_r
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE c.c_acctbal > 5000.0
        GROUP BY 1 ORDER BY nm
    """,
    notes=(
        "numeric node properties (round-7 third leg): the attribute view "
        "now carries acctbal (customer+supplier; absent labels read null, "
        "Neo4j property semantics) and mktsegment — enabling numeric "
        "WHERE ranges, sum/avg/percentile aggregates, and ORDER BY over "
        "balances. The property filter is a plain predicate on the "
        "attribute equi-join, pushed by Catalyst; sum() passes the "
        "numeric-argument parse check via the __acctbal column suffix. "
        "The declared query rounds the double sum to 2 dp on both sides "
        "(addition order differs between engines; acctbal is exact at "
        "2 dp, so rounding is stable). Oracle: the same filtered group-by "
        "on the relational base table"
    ),
)
def cypher_property_numeric(spark, sf_dir):
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH (c:Customer)-[:CUSTOMER_OF]->(n:Nation)
           WHERE c.acctbal > 5000.0
           WITH n.name AS nm, count(*) AS n_rich, sum(c.acctbal) AS total
           RETURN nm, n_rich, round(total * 100) / 100 AS total_r
           ORDER BY nm""",
    )


@register(
    "cypher_with_orderby_prop",
    "graph",
    oracle="""
        WITH top5 AS (
            SELECT c_custkey, c_name, c_nationkey FROM customer
            ORDER BY c_acctbal DESC, c_name ASC LIMIT 5
        )
        SELECT t.c_name AS cname, n.n_name AS nname
        FROM top5 t JOIN nation n ON t.c_nationkey = n.n_nationkey
        ORDER BY cname
    """,
    notes=(
        "WITH ORDER BY a non-projected property (round-7 third leg — "
        "`WITH c ORDER BY c.acctbal DESC LIMIT 5`, Neo4j's top-k-then-"
        "continue over node properties): the stage projects the property "
        "as a HIDDEN sort column, sorts+limits (TakeOrderedAndProject), "
        "drops it after paging — same machinery as the RETURN-side "
        "hidden sort columns, same restrictions (undefined under "
        "aggregation/DISTINCT, as in Neo4j). Unique-name tiebreak keeps "
        "the top-5 deterministic. Scale: the follow-up MATCH joins a "
        "5-row frame, not the corpus. Oracle: ORDER-BY-LIMIT CTE join"
    ),
)
def cypher_with_orderby_prop(spark, sf_dir):
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH (c:Customer)
           WITH c ORDER BY c.acctbal DESC, c.name ASC LIMIT 5
           MATCH (c)-[:CUSTOMER_OF]->(n:Nation)
           RETURN c.name AS cname, n.name AS nname
           ORDER BY cname""",
    )


@register(
    "cypher_unwind_expr",
    "graph",
    oracle="""
        SELECT * FROM (VALUES (6, 1), (9, 4), (6, 6)) AS t(rowsum, first_el)
    """,
    notes=(
        "expression-form UNWIND (round-7 third leg): nested list literals "
        "(`[[1,2,3],[4,5],[6]]` — beyond the flat-literal fast path) "
        "compile through the list-expression rewriter and explode over a "
        "one-row relation; per-row reduce() folds and head() access then "
        "run on the array column. Exercises the array-typed UNWIND column "
        "end-to-end (explode -> lambda fold -> null-safe get). Oracle: "
        "the three literal rows"
    ),
)
def cypher_unwind_expr(spark, sf_dir):
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """UNWIND [[1, 2, 3], [4, 5], [6]] AS xs
           RETURN reduce(s = 0, x IN xs | s + x) AS rowsum,
                  head(xs) AS first_el""",
    )


@register(
    "cypher_string_fns",
    "graph",
    oracle="""
        SELECT n_name AS nm,
               CAST(len(string_split(n_name, 'N')) AS INT) AS n_parts,
               REPLACE(n_name, 'N', '_') AS repl,
               SUBSTR(n_name, 1, 3) AS pre,
               CASE n_name WHEN 'NATION_0' THEN 'zero' ELSE 'other' END AS tag
        FROM nation ORDER BY nm
    """,
    notes=(
        "Cypher string-function batch (round-7 third leg): split() on a "
        "LITERAL delimiter (Neo4j splits literally, Spark's split() takes "
        "a Java regex — the rewriter \\\\Q...\\\\E-quotes literal "
        "delimiters so '.' or '|' split correctly), size() over the "
        "resulting list -> cardinality(), replace(), 0-based Cypher "
        "substring() -> 1-based Spark (+1 start shift in _fn_rewrite, "
        "applied uniformly in WHERE and RETURN), and the simple CASE "
        "form (`CASE expr WHEN v THEN ...`). All scan-local string "
        "expressions inside codegen. Oracle: DuckDB string_split/len/"
        "substr twins (both engines split literally here)"
    ),
)
def cypher_string_fns(spark, sf_dir):
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH (n:Nation)
           RETURN n.name AS nm,
                  size(split(n.name, 'N')) AS n_parts,
                  replace(n.name, 'N', '_') AS repl,
                  substring(n.name, 0, 3) AS pre,
                  CASE n.name WHEN 'NATION_0' THEN 'zero' ELSE 'other' END AS tag
           ORDER BY nm""",
    )


@register(
    "cypher_count_subquery",
    "graph",
    oracle="""
        SELECT n.n_name AS nm,
               (SELECT COUNT(*) FROM customer c
                 WHERE c.c_nationkey = n.n_nationkey) AS n_cust,
               (SELECT COUNT(*) FROM supplier s
                 WHERE s.s_nationkey = n.n_nationkey) AS n_sup
        FROM nation n ORDER BY nm
    """,
    notes=(
        "COUNT { pattern } scalar subqueries (round-7 third leg — "
        "openCypher's degree-count idiom, the successor to the deprecated "
        "size((n)--())) : each subquery compiles like an EXISTS body, but "
        "the correlated frame is GROUPED on the anchor variables and "
        "LEFT-joined — one bigint column, zero row multiplication, "
        "zero-match rows read 0 (Neo4j semantics; a plain MATCH+count "
        "would drop them). Scale: the per-subquery plan is partial-agg + "
        "equi-join on the anchor key — degree counting at corpus scale, "
        "never a per-row nested loop. Oracle: correlated scalar COUNT "
        "subqueries on the base tables"
    ),
)
def cypher_count_subquery(spark, sf_dir):
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH (n:Nation)
           RETURN n.name AS nm,
                  COUNT { MATCH (c:Customer)-[:CUSTOMER_OF]->(n) } AS n_cust,
                  COUNT { MATCH (s:Supplier)-[:SUPPLIER_OF]->(n) } AS n_sup
           ORDER BY nm""",
    )


@register(
    "cypher_label_predicate",
    "graph",
    oracle="""
        SELECT kind, COUNT(*) AS n FROM (
            SELECT 'c' AS kind FROM customer
            UNION ALL SELECT 's' AS kind FROM supplier
        ) GROUP BY kind ORDER BY kind
    """,
    notes=(
        "label predicates in WHERE (round-7 third leg — `x:Customer OR "
        "x:Supplier`, Neo4j's boolean label test, the form that composes "
        "under OR/NOT unlike a pattern-level label): rewritten to "
        "namespace-prefix LIKEs over the node id "
        "(cypher._rewrite_label_preds, quote-aware; unknown labels fail "
        "at parse time). The prefix LIKE is sargable — Catalyst pushes "
        "it into the node-view scan like the pattern-level label filter. "
        "Declared query also exercises 0-based substring over the id. "
        "Oracle: the union of the two base tables, grouped"
    ),
)
def cypher_label_predicate(spark, sf_dir):
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH (x)
           WHERE x:Customer OR x:Supplier
           RETURN substring(x.id, 0, 1) AS kind, count(*) AS n
           ORDER BY kind""",
    )


def _mis_oracle_sql(rounds: int = 4) -> str:
    """Unrolled fixed-``rounds`` oracle for the deterministic parallel
    greedy MIS (the eigenvector-oracle recipe: one CTE pair per round,
    the exact recurrence graph_algos.greedy_mis runs). Round k: winners
    = active nodes with no smaller ACTIVE neighbor; the next active set
    drops winners and their neighbors. MATERIALIZED per round — each
    table is referenced twice (winner test + deactivation)."""
    steps = []
    prev_a = "a0"
    wins = []
    for k in range(1, rounds + 1):
        steps.append(
            f"""
        w{k} AS MATERIALIZED (
            SELECT a.node FROM {prev_a} a
            WHERE NOT EXISTS (
                SELECT 1 FROM sym s JOIN {prev_a} n ON s.dst = n.node
                WHERE s.src = a.node AND n.node < a.node)),
        a{k} AS MATERIALIZED (
            SELECT a.node FROM {prev_a} a
            WHERE a.node NOT IN (SELECT node FROM w{k})
              AND NOT EXISTS (
                SELECT 1 FROM sym s JOIN w{k} w ON s.dst = w.node
                WHERE s.src = a.node))"""
        )
        wins.append(f"SELECT node FROM w{k}")
        prev_a = f"a{k}"
    return f"""
        WITH {HIERARCHY_SQL},
        sym AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
                  SELECT src, dst FROM edges
                  UNION ALL SELECT dst AS src, src AS dst FROM edges)),
        a0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM sym),
        {",".join(steps)}
        SELECT node FROM ({" UNION ALL ".join(wins)}) ORDER BY node
    """


@register(
    "graph_mis",
    "graph",
    oracle=_mis_oracle_sql(rounds=4),
    notes=(
        "maximal independent set (round-7 — NetworkX "
        "maximal_independent_set, README.md:28): deterministic parallel "
        "greedy (functions/graph_algos.greedy_mis) — per round, every "
        "active node with no smaller active neighbor joins the set, then "
        "it and its neighbors deactivate. With a fixed total order "
        "(the node id) this computes exactly the lexicographically-first "
        "MIS, so it is deterministic and hash-checkable; Luby's "
        "randomized algorithm is the same loop with random priorities. "
        "Declared over the symmetrized hierarchy graph, which converges "
        "in 2 rounds (id order: customers dominate nations, then "
        "regions/suppliers free up) — the 4-round bound is a 2x margin, "
        "asserted maximal by tests. Scale: each round is two equi-joins "
        "+ one partial agg on the node key, state pinned per round "
        "(checkpoint + actual-size stats, the Boruvka discipline). "
        "Oracle: the same recurrence unrolled as 4 CTE pairs"
    ),
)
def graph_mis(spark, sf_dir):
    from mimranalytics_core_spark.functions.graph_algos import greedy_mis

    tables(spark, sf_dir)
    e = catalog.hierarchy_edges(spark, sf_dir).select("src", "dst")
    return greedy_mis(e, rounds=4, state_partitions=8).orderBy("node")


def _matching_oracle_sql(rounds: int = 4) -> str:
    """Unrolled fixed-``rounds`` oracle for the deterministic parallel
    greedy maximal matching (graph_algos.greedy_matching's recurrence):
    round k keeps the live edges (both endpoints active), picks the ones
    that are the (a, b)-lexicographic minimum among live edges at BOTH
    endpoints, and deactivates their endpoints."""
    steps = []
    prev_a = "ac0"
    wins = []
    for k in range(1, rounds + 1):
        steps.append(
            f"""
        lv{k} AS MATERIALIZED (
            SELECT e.a, e.b FROM ed e
            JOIN {prev_a} x ON e.a = x.node
            JOIN {prev_a} y ON e.b = y.node),
        w{k} AS MATERIALIZED (
            SELECT e.a, e.b FROM lv{k} e
            WHERE NOT EXISTS (
                SELECT 1 FROM lv{k} o
                WHERE (o.a = e.a OR o.b = e.a) AND (o.a, o.b) < (e.a, e.b))
              AND NOT EXISTS (
                SELECT 1 FROM lv{k} o
                WHERE (o.a = e.b OR o.b = e.b) AND (o.a, o.b) < (e.a, e.b))),
        ac{k} AS MATERIALIZED (
            SELECT node FROM {prev_a}
            WHERE node NOT IN (SELECT a FROM w{k})
              AND node NOT IN (SELECT b FROM w{k}))"""
        )
        wins.append(f"SELECT a, b FROM w{k}")
        prev_a = f"ac{k}"
    return f"""
        WITH {HIERARCHY_SQL},
        ed AS MATERIALIZED (
            SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
            FROM edges WHERE src <> dst),
        ac0 AS MATERIALIZED (
            SELECT DISTINCT node FROM (
                SELECT a AS node FROM ed UNION ALL SELECT b FROM ed)),
        {",".join(steps)}
        SELECT a, b FROM ({" UNION ALL ".join(wins)}) ORDER BY a, b
    """


@register(
    "graph_matching",
    "graph",
    oracle=_matching_oracle_sql(rounds=4),
    notes=(
        "maximal matching (round-7 — NetworkX maximal_matching, "
        "README.md:28): deterministic parallel greedy "
        "(functions/graph_algos.greedy_matching) — per round every live "
        "edge that is the (a,b)-lexicographic minimum at BOTH endpoints "
        "joins the matching (the locally-dominant-edge principle), its "
        "endpoints deactivate. Computes exactly the lexicographically-"
        "first maximal matching, hence deterministic + hash-checkable; "
        "the randomized distributed classic is the same loop with random "
        "priorities. The hierarchy instance converges in 2 rounds (one "
        "customer per nation matches, then everything touching nations "
        "is dead) — 4 is a 2x margin. Scale: per round two equi-joins + "
        "a node-key partial agg + a count-2 edge agg, state pinned "
        "(checkpoint + actual-size stats). Oracle: the same recurrence "
        "unrolled as 4 CTE triples"
    ),
)
def graph_matching(spark, sf_dir):
    from mimranalytics_core_spark.functions.graph_algos import greedy_matching

    tables(spark, sf_dir)
    e = catalog.hierarchy_edges(spark, sf_dir).select("src", "dst")
    return greedy_matching(e, rounds=4, state_partitions=8).orderBy("a", "b")


def _coloring_oracle_sql(rounds: int = 6) -> str:
    """Unrolled fixed-``rounds`` oracle for greedy coloring
    (graph_algos.greedy_coloring's recurrence): round k colors the active
    nodes with no smaller active neighbor, each with the mex of its
    smaller (already-colored) neighbors' colors — expressed as the
    minimum series value not present among those colors."""
    steps = []
    prev_a, prev_c = "a0", "col0"
    wins = []
    for k in range(1, rounds + 1):
        steps.append(
            f"""
        el{k} AS MATERIALIZED (
            SELECT a.node FROM {prev_a} a
            WHERE NOT EXISTS (
                SELECT 1 FROM sym s JOIN {prev_a} n ON s.dst = n.node
                WHERE s.src = a.node AND n.node < a.node)),
        w{k} AS MATERIALIZED (
            SELECT e.node, COALESCE((
                SELECT MIN(g.c) FROM generate_series(0, 255) g(c)
                WHERE NOT EXISTS (
                    SELECT 1 FROM sym s JOIN {prev_c} cc ON s.dst = cc.node
                    WHERE s.src = e.node AND cc.node < e.node
                      AND cc.color = g.c)), 0) AS color
            FROM el{k} e),
        col{k} AS MATERIALIZED (
            SELECT node, color FROM {prev_c}
            UNION ALL SELECT node, color FROM w{k}),
        a{k} AS MATERIALIZED (
            SELECT node FROM {prev_a}
            WHERE node NOT IN (SELECT node FROM w{k}))"""
        )
        wins.append(f"SELECT node, color FROM w{k}")
        prev_a, prev_c = f"a{k}", f"col{k}"
    return f"""
        WITH {HIERARCHY_SQL},
        sym AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
                  SELECT src, dst FROM edges
                  UNION ALL SELECT dst AS src, src AS dst FROM edges)
              WHERE src <> dst),
        a0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM sym),
        col0 AS (SELECT CAST(NULL AS VARCHAR) AS node, 0 AS color WHERE FALSE),
        {",".join(steps)}
        SELECT node, color FROM ({" UNION ALL ".join(wins)}) ORDER BY node
    """


@register(
    "graph_coloring",
    "graph",
    oracle=_coloring_oracle_sql(rounds=6),
    notes=(
        "greedy graph coloring (round-7 — NetworkX greedy_color with a "
        "fixed node order, README.md:28): deterministic parallel rounds "
        "(functions/graph_algos.greedy_coloring) — a node colors once "
        "every smaller neighbor has (the MIS-winner eligibility rule), "
        "with the mex of its smaller neighbors' colors computed "
        "row-locally by the sorted-fold trick (aggregate over "
        "sort_array(collect_set)). Batching eligible nodes never changes "
        "any node's smaller-neighbor color set, so this IS sequential "
        "greedy by ascending id — deterministic + hash-checkable. "
        "Hierarchy needs 3 rounds (longest ascending-id path c<n<r/s); "
        "6 is a 2x margin. Scale: per round two equi-joins + a node-key "
        "partial agg; state pinned (checkpoint + actual-size stats). "
        "Oracle: the same recurrence unrolled, mex as the min series "
        "value missing from the colored-smaller-neighbor set"
    ),
)
def graph_coloring(spark, sf_dir):
    from mimranalytics_core_spark.functions.graph_algos import greedy_coloring

    tables(spark, sf_dir)
    e = catalog.hierarchy_edges(spark, sf_dir).select("src", "dst")
    return greedy_coloring(e, rounds=6, state_partitions=8).orderBy("node")


@register(
    "cypher_return_star",
    "graph",
    oracle=f"""
        WITH {HIERARCHY_SQL},
        top3 AS (
            SELECT dst AS n, COUNT(*) AS k
            FROM edges WHERE rel_type = 'customer_of'
            GROUP BY dst ORDER BY k DESC, n ASC LIMIT 3
        )
        SELECT t.n, t.k, se.src AS s
        FROM top3 t
        JOIN edges se ON se.rel_type = 'supplier_of' AND se.dst = t.n
        ORDER BY n, s
    """,
    notes=(
        "RETURN * / WITH * (round-7 third leg — Neo4j's star projection): "
        "expands to every visible name of the current pipeline scope in "
        "binding order, tracked per WITH stage (stage outputs + fresh "
        "stage pattern variables; internal __ columns excluded), and "
        "composes with extra items (`RETURN *, count(*)`). Pure parse-"
        "time expansion — the plan is identical to spelling the names "
        "out. Declared query: star after a top-k WITH + re-MATCH, the "
        "drill-down shape. Oracle: the spelled-out equivalent"
    ),
)
def cypher_return_star(spark, sf_dir):
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH (c)-[:CUSTOMER_OF]->(n)
           WITH n, count(*) AS k ORDER BY k DESC, n ASC LIMIT 3
           MATCH (s:Supplier)-[:SUPPLIER_OF]->(n)
           RETURN * ORDER BY n, s""",
    )


@register(
    "cypher_with_unwind",
    "graph",
    oracle="""
        SELECT n.n_name AS nm, COUNT(*) AS n_members,
               MIN(c.c_name) AS first_member
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY 1 ORDER BY nm
    """,
    notes=(
        "UNWIND after WITH (round-7 third leg — Neo4j's collect-then-"
        "re-expand idiom, the canonical group-process-flatten shape): "
        "the stage UNWIND compiles through the list-expression rewriter "
        "and executes as ONE row-local explode after the stage's "
        "paging/WHERE (openCypher subclause order), before its MATCH "
        "clauses; empty/null lists yield zero rows (explode semantics = "
        "Cypher's). The declared query round-trips every customer "
        "through collect() -> UNWIND and re-aggregates — proving the "
        "expansion is lossless. Scale: collect buckets are per-nation "
        "(bounded by the group), the explode is scan-local, no extra "
        "shuffle beyond the one groupBy. Oracle: the flat group-by the "
        "round-trip is equivalent to"
    ),
)
def cypher_with_unwind(spark, sf_dir):
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH (c:Customer)-[:CUSTOMER_OF]->(n:Nation)
           WITH n.name AS nm, collect(c.name) AS members
           UNWIND members AS m
           RETURN nm, count(*) AS n_members, min(m) AS first_member
           ORDER BY nm""",
    )


@register(
    "cypher_exists_item",
    "graph",
    oracle="""
        SELECT n.n_name AS nm,
               EXISTS (SELECT 1 FROM supplier s
                       WHERE s.s_nationkey = n.n_nationkey) AS has_sup,
               NOT EXISTS (SELECT 1 FROM customer c
                           WHERE c.c_nationkey = n.n_nationkey) AS no_cust
        FROM nation n ORDER BY nm
    """,
    notes=(
        "[NOT] EXISTS { pattern } as a RETURN item (round-7 third leg — "
        "boolean pattern existence per row, the projection twin of the "
        "WHERE-side EXISTS predicate): the subquery's DISTINCT anchors "
        "LEFT-join a literal true, null-extension reads false, NOT flips "
        "in-plan. Zero row multiplication — existence never explodes the "
        "frame, and Catalyst sees a plain equi-join on the anchor key. "
        "Oracle: correlated EXISTS subqueries on the base tables"
    ),
)
def cypher_exists_item(spark, sf_dir):
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH (n:Nation)
           RETURN n.name AS nm,
                  EXISTS { (s:Supplier)-[:SUPPLIER_OF]->(n) } AS has_sup,
                  NOT EXISTS { (c:Customer)-[:CUSTOMER_OF]->(n) } AS no_cust
           ORDER BY nm""",
    )


@register(
    "cypher_call_subquery",
    "graph",
    oracle="""
        SELECT n.n_name AS nm,
               (SELECT COUNT(*) FROM customer c
                 WHERE c.c_nationkey = n.n_nationkey) AS n_cust,
               (SELECT COUNT(*) FROM supplier) AS total_sup
        FROM nation n ORDER BY nm
    """,
    notes=(
        "CALL { … } subqueries (round-9, the r8 verdict's #3 — the most "
        "common remaining Neo4j clause in real query logs): the body is a "
        "complete query compiled by recursion (cypher._extract_calls / "
        "_prepare_call), then JOINED into the outer frame — equi-join on "
        "the importing-WITH variables for correlated bodies (per-outer-row "
        "evaluation IS a join on the correlation key; an aggregating body "
        "left-joins with count/sum coalesced to 0, Neo4j's empty-frame "
        "reading), cross-join for uncorrelated ones (executed ONCE; the "
        "aggregate-small result rides a broadcast nested loop). Write "
        "clauses inside the body hit the targeted read-only error via the "
        "recursive parse. Scale: correlated bodies compile to partial-agg "
        "+ shuffle-on-import-key — degree math at corpus scale, never a "
        "per-row nested loop. Declared query: an uncorrelated global "
        "count cross-joined into every row, plus a correlated per-nation "
        "customer count with zero-match nations surviving as 0. Oracle: "
        "scalar subqueries on the base tables"
    ),
)
def cypher_call_subquery(spark, sf_dir):
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """CALL { MATCH (s:Supplier) RETURN count(*) AS total_sup }
           MATCH (n:Nation)
           CALL { WITH n
                  MATCH (c:Customer)-[:CUSTOMER_OF]->(n)
                  RETURN count(*) AS n_cust }
           RETURN n.name AS nm, n_cust, total_sup
           ORDER BY nm""",
    )


@register(
    "cypher_keys_properties",
    "graph",
    oracle="""
        SELECT ks, COUNT(*) AS n FROM (
            SELECT 'id,label,name,acctbal,mktsegment,nationkey,custkey' AS ks
            FROM customer
            UNION ALL SELECT 'id,label,name,acctbal,nationkey,suppkey'
            FROM supplier
            UNION ALL SELECT 'id,label,name,nationkey,regionkey' FROM nation
            UNION ALL SELECT 'id,label,name,regionkey' FROM region
        ) GROUP BY ks ORDER BY ks
    """,
    notes=(
        "per-label keys()/properties() (round-9, r8 verdict #5 — replaces "
        "the universal id/label/name triple): key sets are derived "
        "STATICALLY from the attribute-view schema per label (acctbal on "
        "customer+supplier, mktsegment customer-only — a property absent "
        "on a label is NOT in its key set, Neo4j's heterogeneous map). A "
        "labeled variable folds keys() to a literal array and "
        "properties() to the exact per-label named_struct; an UNLABELED "
        "variable resolves keys() at runtime via a row-local CASE on the "
        "namespaced-id prefix (no join; the same sargable prefix test "
        "label filters use) — exercised here by the node-only MATCH over "
        "all four tiers. properties() of an unlabeled variable keeps the "
        "universal triple (one fixed struct schema per expression — CASE "
        "branches over differently-shaped structs don't type-unify; "
        "declared subset). Oracle: per-table literal key strings unioned "
        "and grouped"
    ),
)
def cypher_keys_properties(spark, sf_dir):
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH (x)
           RETURN array_join(keys(x), ',') AS ks, count(*) AS n
           ORDER BY ks""",
    )


@register(
    "cypher_temporal_asof",
    "graph",
    oracle="""
        WITH tedges AS (
            SELECT 'c:' || o.o_custkey AS src, 's:' || l.l_suppkey AS dst,
                   MIN(o.o_orderdate) AS valid_from,
                   MAX(o.o_orderdate) AS valid_to
            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
            GROUP BY o.o_custkey, l.l_suppkey
        )
        SELECT dst AS supplier, COUNT(*) AS n_owners,
               CAST(DATE '1997-06-01' AS VARCHAR) AS asof_date
        FROM tedges
        WHERE valid_from <= TIMESTAMP '1997-06-01 00:00:00'
          AND TIMESTAMP '1997-06-01 00:00:00' <= valid_to
        GROUP BY dst ORDER BY supplier
    """,
    notes=(
        "$now session parameter (round-9, r8 verdict #8 stretch): binding "
        "params={'now': t} makes the otherwise-nondeterministic no-arg "
        "temporal forms deterministic — `AS OF $now` pins the Time-Slider "
        "snapshot to the session clock, and no-arg `date()`/`now()`/"
        "`datetime()` rewrite at bind time (cypher.bind_params, quote-"
        "aware, before parsing) to date/timestamp literals of $now, so "
        "read-only queries written against Neo4j's wall clock replay "
        "deterministically. Scale: identical to any as-of query — the "
        "validity filter lands on the (date-partitionable) edge scan "
        "before the traversal join; the literal costs nothing. Oracle: "
        "the as-of interval filter over the derived temporal edge table"
    ),
)
def cypher_temporal_asof(spark, sf_dir):
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH (c:Customer)-[:OWNS_STAKE]->(s) AS OF $now
           RETURN s AS supplier, count(*) AS n_owners,
                  CAST(date() AS STRING) AS asof_date
           ORDER BY supplier""",
        params={"now": "1997-06-01 00:00:00"},
    )


@register(
    "cypher_optional_call",
    "graph",
    oracle="""
        SELECT n.n_name AS nm,
               COUNT(s.s_suppkey) AS ns,
               COUNT(*) AS n_rows
        FROM nation n LEFT JOIN supplier s ON s.s_nationkey = n.n_nationkey
        GROUP BY nm ORDER BY nm
    """,
    notes=(
        "OPTIONAL CALL { … } (round-9, Neo4j 5.24+): outer rows the "
        "subquery yields nothing for null-extend instead of dropping — "
        "correlated bodies compile to a LEFT equi-join on the import key "
        "(vs plain CALL's inner join for non-aggregating bodies); "
        "uncorrelated bodies left-join on a constant key so even an "
        "EMPTY subquery result keeps every outer row. count(s) ignores "
        "the null-extended rows while count(*) keeps them — exactly the "
        "LEFT JOIN split the oracle states. Scale: same partial-agg + "
        "equi-join shape as plain CALL; OPTIONAL only flips the join "
        "type. Oracle: LEFT JOIN + the two count grains"
    ),
)
def cypher_optional_call(spark, sf_dir):
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH (n:Nation)
           OPTIONAL CALL { WITH n
                           MATCH (s:Supplier)-[:SUPPLIER_OF]->(n)
                           RETURN s }
           RETURN n.name AS nm, count(s) AS ns, count(*) AS n_rows
           ORDER BY nm""",
    )


@register(
    "cypher_collect_subquery",
    "graph",
    oracle="""
        SELECT r_name AS rn,
               (SELECT string_agg(n_name, '|' ORDER BY n_name)
                  FROM nation WHERE n_regionkey = r_regionkey) AS nations,
               CAST((SELECT COUNT(*) FROM nation
                      WHERE n_regionkey = r_regionkey
                        AND n_name = 'NATION_3') AS INT) AS n_only3
        FROM region ORDER BY rn
    """,
    notes=(
        "COLLECT { … RETURN expr } list subqueries (round-9 — Neo4j 5.6+, "
        "the list-valued third sibling of COUNT{}/EXISTS{}): the subquery "
        "frame is grouped on the correlation anchors, the returned "
        "expression collect_list'd (collect_set under RETURN DISTINCT), "
        "SORTED lexically for cross-run determinism (the collect() "
        "discipline; ORDER BY inside the body is rejected with a targeted "
        "message — declared divergence), and LEFT-joined so zero-match "
        "rows read [] exactly as Neo4j. Scale: partial-agg + equi-join on "
        "the anchor key — list building never multiplies the outer frame, "
        "and the per-anchor list is group-bounded. The declared query "
        "post-projects the list as a '|'-joined string + a size() so the "
        "driver's scalar hash comparator applies (agg_collect's export "
        "discipline). Oracle: correlated string_agg/COUNT subqueries"
    ),
)
def cypher_collect_subquery(spark, sf_dir):
    from mimranalytics_core_spark import api

    df = api.cypher(
        spark,
        sf_dir,
        """MATCH (r:Region)
           RETURN r.name AS rn,
                  COLLECT { (n:Nation)-[:NATION_OF]->(r)
                            RETURN n.name } AS nations,
                  COLLECT { (n:Nation {name: 'NATION_3'})-[:NATION_OF]->(r)
                            RETURN n.name } AS only3
           ORDER BY rn""",
    )
    return df.select(
        "rn",
        F.array_join("nations", "|").alias("nations"),
        F.size("only3").alias("n_only3"),
    )


@register(
    "cypher_call_topk",
    "graph",
    oracle="""
        WITH ranked AS (
            SELECT n.n_name AS nm, c.c_name AS cname, c.c_acctbal AS bal,
                   ROW_NUMBER() OVER (
                       PARTITION BY n.n_nationkey
                       ORDER BY c.c_acctbal DESC NULLS FIRST,
                                c.c_name ASC NULLS LAST) AS rn
            FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
        )
        SELECT nm, cname, bal FROM ranked
        WHERE rn > 1 AND rn <= 3
        ORDER BY nm, bal DESC, cname
    """,
    notes=(
        "per-invocation ORDER BY/SKIP/LIMIT inside a correlated CALL "
        "body (round-10 — lifts the round-9 targeted rejection; Neo4j "
        "runs the tail once per outer row). Compiles to row_number() "
        "OVER (PARTITION BY import-keys ORDER BY returned aliases) "
        "(cypher._parse_call_tail + the window block in _apply_call): "
        "the rank shuffles on exactly the key the outer equi-join needs "
        "anyway, so a per-row Neo4j semantic lands as ONE top-k-per-"
        "group pass — never a nested loop (the shape that survives "
        "100 TB; win_topk_per_group's plan). Null ordering follows "
        "Neo4j (nulls last ASC / first DESC); remaining returned "
        "columns tiebreak ascending so the kept page is deterministic "
        "(declared divergence: Neo4j may keep any tied member). A "
        "nation whose page is empty (fewer than SKIP+1 customers) "
        "drops, matching plain CALL's inner-join cardinality. Oracle: "
        "the same ROW_NUMBER window with rn in (SKIP, SKIP+LIMIT]"
    ),
)
def cypher_call_topk(spark, sf_dir):
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH (n:Nation)
           CALL { WITH n MATCH (c:Customer)-[:CUSTOMER_OF]->(n)
                  RETURN c.name AS cname, c.acctbal AS bal
                  ORDER BY bal DESC, cname SKIP 1 LIMIT 2 }
           RETURN n.name AS nm, cname, bal
           ORDER BY nm, bal DESC, cname""",
    )


@register(
    "cypher_call_union",
    "graph",
    oracle="""
        SELECT nm, kind, COUNT(*) AS k FROM (
            SELECT n.n_name AS nm, 'cust' AS kind
            FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
            UNION ALL
            SELECT n.n_name AS nm, 'supp' AS kind
            FROM nation n JOIN supplier s ON s.s_nationkey = n.n_nationkey
        ) GROUP BY nm, kind ORDER BY nm, kind
    """,
    notes=(
        "UNION ALL inside a correlated CALL body (round-10 — lifts the "
        "round-9 rejection): each branch imports the same variables and "
        "is compiled independently; the branch frames UNION first and "
        "the combined frame equi-joins the outer scope ONCE "
        "(cypher._prepare_call branch specs + the union block in "
        "_apply_call) — per-invocation concatenation IS a keyed union, "
        "and under OPTIONAL CALL the single left join null-extends once "
        "even when every branch is empty for an anchor. Declared subset: "
        "UNION ALL only (per-invocation DISTINCT isn't expressible on "
        "the join composition), non-aggregating branches, identical "
        "import lists and output names — each violation gets a targeted "
        "parse error. Scale: N branch scans + one shuffle on the import "
        "key; no per-row re-execution. Oracle: UNION ALL of the two "
        "base-table joins grouped on (nation, branch-tag)"
    ),
)
def cypher_call_union(spark, sf_dir):
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH (n:Nation)
           CALL { WITH n MATCH (c:Customer)-[:CUSTOMER_OF]->(n)
                  RETURN c.name AS who, 'cust' AS kind
                  UNION ALL
                  WITH n MATCH (s:Supplier)-[:SUPPLIER_OF]->(n)
                  RETURN s.name AS who, 'supp' AS kind }
           RETURN n.name AS nm, kind, count(*) AS k
           ORDER BY nm, kind""",
    )


@register(
    "cypher_pattern_comprehension",
    "graph",
    oracle="""
        SELECT n.n_name AS nm,
               (SELECT COALESCE(string_agg(c.c_name, '|' ORDER BY c.c_name), '')
                  FROM customer c
                 WHERE c.c_nationkey = n.n_nationkey
                   AND c.c_acctbal > 5000) AS rich,
               CAST((SELECT COUNT(*) FROM customer c
                      WHERE c.c_nationkey = n.n_nationkey
                        AND c.c_acctbal > 5000) AS INT) AS n_rich
        FROM nation n ORDER BY nm
    """,
    notes=(
        "pattern comprehensions (round-10 — `[(pat) WHERE pred | expr]`, "
        "one of the most common Neo4j expression idioms): desugared at "
        "item-parse time to the equivalent COLLECT { pat WHERE pred "
        "RETURN expr } subquery (cypher._pattern_comprehension_to_collect "
        "— the Neo4j 5 docs state the same equivalence), so it inherits "
        "COLLECT's whole compile path: anchor-grouped collect_list, "
        "lexically sorted, LEFT-joined with [] for zero-match rows. The "
        "bracket scan is depth- and quote-aware — list literals, "
        "slices, and `[x IN …]` list comprehensions never trigger it, "
        "and a rel-type alternation `[:A|B]` pipe sits at depth > 0. "
        "Scale: partial collect_list + one equi-join on the anchor key; "
        "the list is group-bounded. Declared subset: RETURN items, no "
        "path-variable binding. Oracle: correlated string_agg/COUNT "
        "with the WHERE folded in; '' coalesce matches array_join([])"
    ),
)
def cypher_pattern_comprehension(spark, sf_dir):
    from mimranalytics_core_spark import api

    df = api.cypher(
        spark,
        sf_dir,
        """MATCH (n:Nation)
           RETURN n.name AS nm,
                  [(c:Customer)-[:CUSTOMER_OF]->(n)
                   WHERE c.acctbal > 5000 | c.name] AS rich
           ORDER BY nm""",
    )
    return df.select(
        "nm",
        F.array_join("rich", "|").alias("rich"),
        F.size("rich").alias("n_rich"),
    )


@register(
    "cypher_map_projection",
    "graph",
    oracle="""
        SELECT n.n_name AS nm, c.c_name AS cname, c.c_acctbal AS bal,
               c.c_mktsegment AS seg
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        ORDER BY nm, cname
    """,
    notes=(
        "map projections (round-10 — `x {.p1, .p2}` / `x {.*}`, Neo4j's "
        "property-selection idiom): rewritten in the scalar-function pass "
        "(cypher._gfn_mapproj) to a named_struct over the same var.prop "
        "tokens properties() emits, so the fields resolve through the "
        "ordinary attribute-view equi-join (label-pruned when the var is "
        "labeled); `.*` desugars to properties(x) and inherits its "
        "per-label field set. Pattern property maps `{name: 'X'}` never "
        "match the rewrite (selectors must start with `.`). Declared "
        "subset: property selectors and `.*` only — literal/variable "
        "entries are rejected by the ordinary grammar; `.*` may not mix "
        "with explicit selectors (targeted error). Scale: zero extra "
        "plan cost — the struct is a row-local projection over columns "
        "the property join already carries. Oracle: the flat projection "
        "(the declared query post-projects the struct to scalar columns "
        "for the driver's value hash)"
    ),
)
def cypher_map_projection(spark, sf_dir):
    from mimranalytics_core_spark import api

    df = api.cypher(
        spark,
        sf_dir,
        """MATCH (c:Customer)-[:CUSTOMER_OF]->(n:Nation)
           RETURN c {.name, .acctbal, .mktsegment} AS cm, n.name AS nm
           ORDER BY nm""",
    )
    return df.select(
        "nm",
        F.col("cm.name").alias("cname"),
        F.col("cm.acctbal").alias("bal"),
        F.col("cm.mktsegment").alias("seg"),
    )


@register(
    "cypher_quantified_rel",
    "graph",
    oracle="""
        SELECT x_label, COUNT(*) AS k FROM (
            SELECT 'Nation' AS x_label
            FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
            UNION ALL
            SELECT 'Region' AS x_label
            FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
                            JOIN region r ON n.n_regionkey = r.r_regionkey
        ) GROUP BY x_label ORDER BY x_label
    """,
    notes=(
        "quantified-relationship shorthand (round-10 — Neo4j 5 GQL "
        "syntax): `-[:R]->{m,n}` desugars at the text level "
        "(cypher._rewrite_qpp, quote-aware, before any scanner) to the "
        "classic `-[:R*m..n]->` varlength form and rides its whole "
        "compile path — per-hop bounded self-joins, trail semantics, "
        "label pruning. `{n}` means exactly n hops; left-arrow and "
        "undirected forms work. Declared subset, each with a targeted "
        "parse error: explicit integer bounds only (`+`/`*`/`{1,}` are "
        "unbounded — the engine requires a hop bound), no zero-length "
        "quantifiers (a 0-hop match binds src = dst), no parenthesized "
        "path groups (group variables bind LISTS in Neo4j — not "
        "expressible on the flat row model; quantify the relationship "
        "instead). Scale: identical plan to the varlength op it "
        "rewrites to. Oracle: the 1-hop UNION ALL 2-hop expansion "
        "grouped by the reached label"
    ),
)
def cypher_quantified_rel(spark, sf_dir):
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH (c:Customer)-[]->{1,2}(x)
           RETURN array_join(labels(x), '|') AS x_label, count(*) AS k
           ORDER BY x_label""",
    )


@register(
    "cypher_count_where",
    "graph",
    oracle="""
        SELECT n.n_name AS nm,
               (SELECT COUNT(*) FROM supplier s
                 WHERE s.s_nationkey = n.n_nationkey) AS ns
        FROM nation n
        WHERE (SELECT COUNT(*) FROM customer c
                WHERE c.c_nationkey = n.n_nationkey) >= 8
        ORDER BY nm
    """,
    notes=(
        "COUNT { … } comparisons as WHERE conjuncts (round-10 — the "
        "degree-filter idiom: 'nodes with at least k neighbours'): the "
        "subquery compiles exactly like the COUNT item — grouped count "
        "on the correlation anchors (partial agg, degree math) — but is "
        "consumed as a filter: LEFT join + coalesce-0 + predicate + drop "
        "(cypher count_preds). The left join means an OPTIONAL-null or "
        "zero-match anchor reads count 0 (Neo4j's scoping), so `= 0` "
        "selects exactly the matchless rows — a semi-join formulation "
        "could not express that. Reversed literal form (k > COUNT{…}) "
        "normalizes by flipping the operator. Scale: one partial-agg "
        "shuffle on the anchor key; the filter prunes before every "
        "downstream stage. Oracle: correlated scalar-count subqueries "
        "in both the WHERE and the projection"
    ),
)
def cypher_count_where(spark, sf_dir):
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH (n:Nation)
           WHERE COUNT { (c:Customer)-[:CUSTOMER_OF]->(n) } >= 8
           RETURN n.name AS nm,
                  COUNT { (s:Supplier)-[:SUPPLIER_OF]->(n) } AS ns
           ORDER BY nm""",
    )


@register(
    "cypher_with_exists",
    "graph",
    oracle="""
        SELECT n.n_name AS nm, COUNT(*) AS n_cust
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name, n.n_nationkey
        HAVING COUNT(*) >= 2
           AND EXISTS (SELECT 1 FROM supplier s
                        WHERE s.s_nationkey = n.n_nationkey)
           AND (SELECT COUNT(*) FROM supplier s
                 WHERE s.s_nationkey = n.n_nationkey) >= 1
        ORDER BY nm
    """,
    notes=(
        "EXISTS { } / COUNT { } conjuncts in a WITH-stage WHERE "
        "(round-10 — the post-aggregation existence filter: 'groups "
        "with at least k rows THAT ALSO have a neighbour'): the stage "
        "WHERE splits at top-level ANDs (cypher._parse_subquery_conjunct"
        "), scalar conjuncts stay an in-plan filter, EXISTS conjuncts "
        "semi/anti-join the stage frame on their anchors, COUNT "
        "comparisons left-join a grouped count and filter. A null "
        "stage-output anchor never equi-joins — which IS Neo4j's "
        "post-pipe scoping (EXISTS false, NOT EXISTS true, COUNT 0). "
        "Scale: the filters run on the AGGREGATED frame (group "
        "cardinality, not row cardinality); semi joins stop probing on "
        "first match. Oracle: SQL HAVING with EXISTS and scalar-count "
        "subqueries — the exact relational reading"
    ),
)
def cypher_with_exists(spark, sf_dir):
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH (c:Customer)-[:CUSTOMER_OF]->(n:Nation)
           WITH n, count(*) AS n_cust
           WHERE n_cust >= 2 AND EXISTS { (s:Supplier)-[:SUPPLIER_OF]->(n) }
                 AND COUNT { (s2:Supplier)-[:SUPPLIER_OF]->(n) } >= 1
           RETURN n.name AS nm, n_cust ORDER BY nm""",
    )


@register(
    "cypher_exists_or",
    "graph",
    oracle="""
        SELECT n.n_name AS nm FROM nation n
        WHERE EXISTS (SELECT 1 FROM supplier s
                       WHERE s.s_nationkey = n.n_nationkey)
           OR EXISTS (SELECT 1 FROM customer c
                       WHERE c.c_nationkey = n.n_nationkey
                         AND c.c_mktsegment = 'BUILDING')
        ORDER BY nm
    """,
    notes=(
        "OR-connected / expression-embedded EXISTS predicates (round-10 "
        "— lifts the 'top-level AND conjunct' rejection): when the WHERE "
        "can't decompose into AND conjuncts, every EXISTS { } span "
        "compiles to a boolean FLAG column (cypher._flagify_exists: "
        "left-join the subquery's DISTINCT anchors carrying literal "
        "TRUE, coalesce FALSE) and the whole predicate — OR, NOT, "
        "parens — filters over the flags as ordinary boolean algebra. "
        "The AND-only form keeps the cheaper semi/anti joins (flags "
        "materialize a column; semi joins stop at first match), and "
        "OPTIONAL-anchored spans keep the targeted rejection (a "
        "post-join filter would drop null-extended rows). Scale: one "
        "distinct + left join per flag on the anchor key — existence "
        "never multiplies rows. Oracle: the same OR of two EXISTS "
        "subqueries in SQL"
    ),
)
def cypher_exists_or(spark, sf_dir):
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH (n:Nation)
           WHERE EXISTS { (s:Supplier)-[:SUPPLIER_OF]->(n) }
              OR EXISTS { (c:Customer {mktsegment: 'BUILDING'})-[:CUSTOMER_OF]->(n) }
           RETURN n.name AS nm ORDER BY nm""",
    )


@register(
    "cypher_anon_nodes",
    "graph",
    oracle="""
        SELECT r.r_name AS rn, COUNT(*) AS cust_cnt
        FROM customer c
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE EXISTS (SELECT 1 FROM supplier s
                        JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
                       WHERE n2.n_regionkey = r.r_regionkey)
        GROUP BY r.r_name ORDER BY rn
    """,
    notes=(
        "anonymous / variable-less node patterns (round-11 — the single "
        "most common Cypher idiom previously rejected): `()`, `(:Label)` "
        "and `({props})` in MATCH chains AND in EXISTS/COUNT/COLLECT "
        "bodies / pattern comprehensions / bare pattern predicates. "
        "cypher._name_anon_nodes assigns each a fresh synthetic variable "
        "(`_anN`, unique across the whole query text so re-parsed "
        "subquery bodies never collide with outer scopes) in structural "
        "node positions ONLY (after a rel tail, before a rel head, after "
        "MATCH) — function calls, grouped predicates and map arguments "
        "are untouched. Two anonymous nodes never co-refer (fresh name "
        "each — Neo4j semantics) and the names ride the ordinary "
        "variable machinery, so labels/props/pushdown/trail semantics "
        "are inherited unchanged. Zero plan cost: the rewrite is "
        "parse-time text. The declared query exercises a mid-chain "
        "anonymous node (customer→()→region) and an EXISTS body whose "
        "supplier AND mid-nation nodes are both anonymous. Oracle: the "
        "same two joins + EXISTS in SQL"
    ),
)
def cypher_anon_nodes(spark, sf_dir):
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH (c:Customer)-[:CUSTOMER_OF]->()-[:NATION_OF]->(r:Region)
           WHERE EXISTS { (:Supplier)-[:SUPPLIER_OF]->()-[:NATION_OF]->(r) }
           RETURN r.name AS rn, count(*) AS cust_cnt
           ORDER BY rn""",
    )


@register(
    "cypher_varlen_weight_product",
    "graph",
    oracle=_UBO_SQL.format(edges=HIERARCHY_SQL),
    notes=(
        "var-length relationship LIST binding + reduce-over-path "
        "(round-11 — the UBO sum-of-path-products idiom IN CYPHER, F2 "
        "README.md:13, exactly as a migrating Neo4j user writes it): "
        "`-[rs*1..6]->` binds the relationship list and `reduce(acc = "
        "1.0, r IN rs | acc * r.weight)` (or the `relationships(p)` "
        "spelling) compiles STATICALLY onto the per-path weight product "
        "the trail machinery already carries (cypher._gfn_reduce_weight "
        "→ `init * path_weight`) — zero extra plan cost, no list "
        "materialization; `size(rs)` ≡ hops. Non-product reduce bodies "
        "over a relationship list get a targeted subset error (only the "
        "product is carried). The declared query IS graph_ubo in Cypher: "
        "customer-rooted paths to depth 6, per-(owner, entity) "
        "sum-of-products, 0.001 threshold — and shares graph_ubo's "
        "recursive-CTE oracle verbatim (same threshold, same rounding). "
        "Scale: identical plan family to graph_ubo's bounded traversal "
        "(per-level equi-joins carrying the running product); the reduce "
        "adds a literal multiply"
    ),
)
def cypher_varlen_weight_product(spark, sf_dir):
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH (c:Customer)-[rs*1..6]->(e)
           WITH c.id AS owner, e.id AS entity,
                reduce(acc = 1.0, r IN rs | acc * r.weight) AS frac
           WITH owner, entity, sum(frac) AS s WHERE s >= 0.001
           RETURN owner, entity, round(s, 6) AS effective_ownership""",
    )


@register(
    "cypher_temporal_constructors",
    "graph",
    oracle="""
        SELECT n.n_name AS nm,
               CAST(DATE '2020-01-01' AS VARCHAR) AS d0,
               CAST(CAST(DATE '2020-01-01' + INTERVAL 1 MONTH
                                           + INTERVAL 14 DAY AS DATE)
                    AS VARCHAR) AS d1,
               make_timestamp(2020, 3, 2, 12, 0, 0) AS t0,
               CAST(TIMESTAMP '2020-01-01 06:30:00'
                    - INTERVAL 5400 SECOND AS TIMESTAMP) AS t1
        FROM nation n ORDER BY nm
    """,
    notes=(
        "temporal value constructors (round-11 — the Time-Slider user's "
        "daily idioms, F4 README.md:17): `date({year, month, day})` → "
        "make_date (month/day default 1, Neo4j's truncation defaults), "
        "`datetime({…})` → make_timestamp_ntz (session-zone-free for "
        "cross-engine hash parity — declared divergence from Neo4j's "
        "zoned datetime), `datetime('<iso>')` → CAST AS TIMESTAMP_NTZ, "
        "and `<temporal> ± duration('P…')` → a composable INTERVAL "
        "chain (years fold into months, weeks into days — Spark keeps "
        "year-month and day-time intervals as separate types, so the "
        "chain is the only spelling that composes both). All rewrites "
        "are parse-time text (cypher._rewrite_temporals) — zero plan "
        "cost, constant-folded by Catalyst. Malformed maps, unknown "
        "keys, missing year, non-literal values, bad ISO strings and "
        "standalone durations each get a targeted CypherSyntaxError "
        "(the map form used to leak Spark's raw PARSE_SYNTAX_ERROR). "
        "Oracle: the same constructors spelled in DuckDB SQL"
    ),
)
def cypher_temporal_constructors(spark, sf_dir):
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH (n:Nation)
           RETURN n.name AS nm,
                  toString(date({year: 2020, month: 1, day: 1})) AS d0,
                  toString(date({year: 2020, month: 1, day: 1}) + duration('P1M2W')) AS d1,
                  datetime({year: 2020, month: 3, day: 2, hour: 12}) AS t0,
                  datetime('2020-01-01T06:30:00') - duration('PT1H30M') AS t1
           ORDER BY nm""",
    )


@register(
    "cypher_property_sets",
    "graph",
    oracle="""
        SELECT n.n_name AS nm,
               CAST(n.n_regionkey AS BIGINT) AS rk,
               COUNT(*) AS k
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE n.n_nationkey IN (1, 2, 3, 5, 8)
        GROUP BY nm, rk ORDER BY nm
    """,
    notes=(
        "widened per-label property sets (round-11, r10 verdict #5): the "
        "attribute view (catalog.hierarchy_nodes) now carries the "
        "natural FK columns — nationkey (customer, supplier, nation) and "
        "regionkey (nation, region), typed long, null off-label (Neo4j's "
        "heterogeneous property map) — so the first filter a migrating "
        "user writes (`WHERE n.nationkey IN [...]`) just works. "
        "keys()/properties()/map projections widen consistently (the "
        "static per-label sets in cypher._gfn_node_fns), and an "
        "UNSUPPORTED property access now names the available property "
        "set in its targeted error instead of a bare rejection. Scale: "
        "unchanged — property access is the same label-pruned equi-join "
        "against the four-projection union view; the new columns ride "
        "the existing join. Oracle: the FK filter + grouped count in SQL"
    ),
)
def cypher_property_sets(spark, sf_dir):
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH (c:Customer)-[:CUSTOMER_OF]->(n:Nation)
           WHERE n.nationkey IN [1, 2, 3, 5, 8]
           RETURN n.name AS nm, n.regionkey AS rk, count(*) AS k
           ORDER BY nm""",
    )


@register(
    "cypher_order_patterns",
    "graph",
    oracle="""
        SELECT n.n_name AS nation, COUNT(*) AS orders,
               ROUND(SUM(o.o_totalprice), 2) AS volume
        FROM customer c
        JOIN orders o ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE o.o_totalprice > 100000
        GROUP BY nation ORDER BY nation
    """,
    notes=(
        "the fact tier in Cypher (round-12 — r11 VERDICT 'missing' #1: "
        "`MATCH (c:Customer)-[:PLACED]->(o:Order)` previously failed with "
        "unknown-label). catalog.business_nodes/business_edges extend the "
        "entity hierarchy with :Order (o:<orderkey> — orderkey/custkey "
        "natural keys, orderstatus, totalprice, orderdate, orderpriority) "
        "and :Part nodes plus :PLACED (customer→order) and :CONTAINS "
        "(order→part, weight = Σ l_quantity) edges. run() ROUTES a "
        "default-graph query onto the business superset only when it "
        "names the fact tier — graph-level partition pruning: entity-"
        "graph exploration never scans the 100 TB fact tables, and the "
        "existing hierarchy ops stay byte-stable (graph='business' opts "
        "a whole query in explicitly). The declared query is the r11 "
        "VERDICT's own day-one-auditor example: per-nation order counts "
        "through the comma-joined PLACED + CUSTOMER_OF patterns with an "
        "order-property filter. Scale: both segments are typed, so the "
        "rel_type filter prunes each traversal to one edge view before "
        "the first join; the shared variable joins hash on the node id. "
        "Oracle: the same two equi-joins + grouped agg in SQL"
    ),
)
def cypher_order_patterns(spark, sf_dir):
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH (c:Customer)-[:PLACED]->(o:Order),
                 (c)-[:CUSTOMER_OF]->(n:Nation)
           WHERE o.totalprice > 100000
           RETURN n.name AS nation, count(*) AS orders,
                  round(sum(o.totalprice), 2) AS volume
           ORDER BY nation""",
    )


@register(
    "cypher_order_basket",
    "graph",
    oracle="""
        SELECT p.p_brand AS brand,
               COUNT(*) AS pairs,
               ROUND(SUM(cp.qty), 2) AS quantity
        FROM orders o
        JOIN (
            SELECT l_orderkey, l_partkey, SUM(l_quantity) AS qty
            FROM lineitem GROUP BY l_orderkey, l_partkey
        ) cp ON cp.l_orderkey = o.o_orderkey
        JOIN part p ON p.p_partkey = cp.l_partkey
        WHERE o.o_totalprice > 300000
        GROUP BY brand ORDER BY brand
    """,
    notes=(
        "two-hop fact-tier traversal with a relationship property "
        "(round-12): `(c)-[:PLACED]->(o)-[:CONTAINS]->(p)` walks "
        "customer→order→part; the :CONTAINS edge carries weight = "
        "Σ l_quantity over the (order, part) pair's lineitems — "
        "aggregating parallel lineitem rows keeps the trail machinery's "
        "edge-key identity honest (one `src>dst` key names ONE "
        "relationship), and r.weight exposes the quantity through the "
        "ordinary 1..1-segment weight carry. Scale: the CONTAINS build "
        "is one hash agg on the pair key (the same shuffle any lineitem "
        "rollup pays); typed segments prune pre-join; the order filter "
        "lands before the part join. Oracle: orders ⋈ pair-aggregated "
        "lineitem ⋈ part in SQL"
    ),
)
def cypher_order_basket(spark, sf_dir):
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH (o:Order)-[r:CONTAINS]->(p:Part)
           WHERE o.totalprice > 300000
           RETURN p.brand AS brand, count(*) AS pairs,
                  round(sum(r.weight), 2) AS quantity
           ORDER BY brand""",
    )


@register(
    "cypher_natural_key_seek",
    "graph",
    oracle="""
        SELECT o.o_orderkey AS orderkey,
               o.o_orderstatus AS status,
               ROUND(o.o_totalprice, 2) AS total
        FROM orders o WHERE o.o_custkey = 1
        ORDER BY orderkey
    """,
    notes=(
        "natural-key property-map seek (round-12 — r11 VERDICT 'missing' "
        "#2: `{custkey: 1}` previously failed with unknown-property; "
        "users had to discover the internal 'c:<n>' id format, which in "
        "turn triggered the {id: <int>} crash). custkey/suppkey/orderkey/"
        "partkey are typed-long properties on their labels; the property "
        "map desugars to `c.custkey = 1`, and because the attribute view "
        "builds each tier from its base table with the key column intact, "
        "Catalyst pushes the equality into the label-pruned parquet scan "
        "(plan-asserted in tests/test_plans.py::test_natural_key_seek_"
        "pushdown — PushedFilters carries c_custkey). The prop-map "
        "literal is dtype-checked at parse time ({custkey: 'x'} is a "
        "targeted error, not a runtime cast failure). Scale: a seek on "
        "the big fact tables is exactly the query that must prune — one "
        "tier scanned, one pushed filter, broadcast-small probe side. "
        "Oracle: the FK equality in SQL"
    ),
)
def cypher_natural_key_seek(spark, sf_dir):
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH (c:Customer {custkey: 1})-[:PLACED]->(o:Order)
           RETURN o.orderkey AS orderkey, o.orderstatus AS status,
                  round(o.totalprice, 2) AS total
           ORDER BY orderkey""",
    )


@register(
    "cypher_comma_cartesian",
    "graph",
    oracle="""
        SELECT CAST(s.s_nationkey AS BIGINT) AS nk, COUNT(*) AS pairs
        FROM supplier s JOIN customer c ON s.s_nationkey = c.c_nationkey
        WHERE s.s_suppkey <= 100
        GROUP BY nk ORDER BY nk
    """,
    notes=(
        "disconnected comma patterns (round-12 — r11 VERDICT 'missing' "
        "#6): `MATCH (a:Supplier), (b:Customer) WHERE a.nationkey = "
        "b.nationkey` — Neo4j's cartesian-product multi-pattern, "
        "previously a targeted rejection. Disconnected chains (node-only "
        "or whole segment components) cross-join. The node frames "
        "PRE-ATTACH the property columns the query reads (they live on "
        "the same attribute row — zero extra joins), so the per-side "
        "conjuncts push BELOW the cross and the cross-component equality "
        "becomes a HASH-JOIN condition: the executed plan has ONE "
        "BroadcastHashJoin and no CartesianProduct/BNLJ node "
        "(plan-asserted). Without the pre-attachment the id-frame "
        "cartesian enumerated the full pair space first — measured "
        "78×/decade; with it the op is overhead-flat across the decade. "
        "An genuinely unfiltered cartesian stays expressible, as in "
        "Neo4j (which only warns) — at 100 TB that is the user's "
        "deliberate choice. The declared query keeps a bounded side "
        "(suppkey <= 100): same-nation PAIR COUNTS still grow "
        "quadratically in SF no matter the plan — that is the workload, "
        "not the engine. Oracle: the same bounded equi-join + grouped "
        "count"
    ),
)
def cypher_comma_cartesian(spark, sf_dir):
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH (a:Supplier), (b:Customer)
           WHERE a.nationkey = b.nationkey AND a.suppkey <= 100
           RETURN a.nationkey AS nk, count(*) AS pairs
           ORDER BY nk""",
    )


@register(
    "cypher_type_discovery",
    "graph",
    oracle="""
        SELECT t, n FROM (
            SELECT 'CUSTOMER_OF' AS t, COUNT(*) AS n FROM customer
            UNION ALL SELECT 'SUPPLIER_OF', COUNT(*) FROM supplier
            UNION ALL SELECT 'NATION_OF', COUNT(*) FROM nation
        ) ORDER BY t
    """,
    notes=(
        "type(r) on an UNTYPED relationship pattern (round-12 — r11 "
        "VERDICT 'missing' #4: `MATCH (a)-[r]->(b) RETURN type(r)` is THE "
        "schema-discovery query an exploring user runs first, previously "
        "a targeted rejection). A statically-typed segment still folds "
        "type(r) to a literal (free); an untyped/multi-typed single-hop "
        "segment now carries the edge view's rel_type column through the "
        "traversal — api.match_path(carry_type=True) joins the typed "
        "view back on (src, dst), sound because every edge-view builder "
        "keeps (src, dst) unique and the tier node spaces are disjoint. "
        "Undirected segments keep a targeted error (the traversal does "
        "not preserve stored orientation — symmetrized join would "
        "double-count bidirectionally-connected pairs). Scale: one extra "
        "broadcast-sized equi-join on the already-filtered edge list; "
        "zero shuffle beyond it. Oracle: per-tier counts (one edge per "
        "base row by construction) union'd in SQL"
    ),
)
def cypher_type_discovery(spark, sf_dir):
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH (a)-[r]->(b)
           RETURN type(r) AS t, count(*) AS n
           ORDER BY t""",
    )


@register(
    "cypher_business_rollup",
    "graph",
    oracle="""
        SELECT r.r_name AS region,
               year(o.o_orderdate) AS yr,
               COUNT(*) AS orders,
               ROUND(SUM(o.o_totalprice), 2) AS volume
        FROM region r
        JOIN nation n ON n.n_regionkey = r.r_regionkey
        JOIN customer c ON c.c_nationkey = n.n_nationkey
        JOIN orders o ON o.o_custkey = c.c_custkey
        WHERE year(o.o_orderdate) <= 1997
        GROUP BY region, yr ORDER BY region, yr
    """,
    notes=(
        "the round-12 flagship composition: one Cypher pattern walking "
        "the WHOLE business graph — region←nation←customer→order, three "
        "typed segments chained through shared variables, a date-property "
        "accessor both as a FILTER (o.orderdate.year <= 1997 — evaluated "
        "SCAN-LOCAL on the orders read, before any join; an extraction "
        "predicate can't reach parquet row-group stats, and at 100 TB a "
        "date-partitioned orders layout turns the same predicate into "
        "partition pruning) and as an implicit GROUPING KEY, with the "
        "per-region per-year volume rollup on top. This is the audit query the reference's "
        "EntityLink product describes (ownership tiers × fact activity "
        "over time) expressed as ONE MATCH. Scale: each typed segment "
        "prunes to its edge view pre-join; the chain is three hash "
        "equi-joins on node ids (nation/region sides broadcast-small at "
        "any SF); partial+final agg on the bounded (region, year) key. "
        "Oracle: the same three-join rollup in SQL"
    ),
)
def cypher_business_rollup(spark, sf_dir):
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH (r:Region)<-[:NATION_OF]-(n:Nation)<-[:CUSTOMER_OF]-(c:Customer)-[:PLACED]->(o:Order)
           WHERE o.orderdate.year <= 1997
           RETURN r.name AS region, o.orderdate.year AS yr,
                  count(*) AS orders, round(sum(o.totalprice), 2) AS volume
           ORDER BY region, yr""",
    )


@register(
    "cypher_supply_chain",
    "graph",
    oracle="""
        WITH co AS (
            SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        ),
        sp AS (
            SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk FROM lineitem
        )
        SELECT n.n_name AS nation,
               COUNT(*) AS n_links,
               COUNT(DISTINCT sp.sk) AS n_suppliers,
               COUNT(DISTINCT co.ok) AS n_orders
        FROM co
        JOIN sp ON sp.pk = co.pk
        JOIN orders o ON o.o_orderkey = co.ok
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN supplier s ON s.s_suppkey = sp.sk
                       AND s.s_nationkey = c.c_nationkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY nation
        ORDER BY nation
    """,
    notes=(
        "the :SUPPLIES supplier→part fact edge (round-13, r12 VERDICT "
        "'missing' #4) completes the SURVEY §2.9 tripartite "
        "order—part—supplier multigraph: one edge per DISTINCT "
        "(l_suppkey, l_partkey) pair, weight = Σ l_quantity, valid from "
        "the pair's first shipment date under AS OF "
        "(catalog.supplies_edges). Declared query is the F3 "
        "conflict-of-interest shape: suppliers supplying parts contained "
        "in orders placed by customers OF THE SUPPLIER'S OWN NATION — a "
        "5-variable typed chain plus a comma chain closing the nation "
        "triangle, planned as hash joins end-to-end (each segment is a "
        "rel-type-pruned narrow edge scan; the clause frame joins on the "
        "shared variables). Scale: contains⋈supplies joins on the part "
        "key — both sides are DISTINCT-pair aggregates bounded by "
        "lineitem, so the multiplicity per part is suppliers-per-part "
        "(~4 in TPC-H), linear not quadratic; the nation equality then "
        "cuts 1/|nations|. Oracle: the same distinct-pair CTEs joined "
        "relationally"
    ),
)
def cypher_supply_chain(spark, sf_dir):
    """Conflict-of-interest rollup over the full tripartite fact graph —
    :SUPPLIES × :CONTAINS × :PLACED with the entity-tier nation triangle."""
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH (c:Customer)-[:PLACED]->(o:Order)-[:CONTAINS]->(p:Part)
                 <-[:SUPPLIES]-(s:Supplier),
                 (c)-[:CUSTOMER_OF]->(n:Nation)<-[:SUPPLIER_OF]-(s)
           RETURN n.name AS nation, count(*) AS n_links,
                  count(DISTINCT s) AS n_suppliers,
                  count(DISTINCT o) AS n_orders
           ORDER BY nation""",
    )


@register(
    "cypher_order_seasonality",
    "graph",
    oracle="""
        SELECT year(o.o_orderdate) AS yr,
               quarter(o.o_orderdate) AS qtr,
               COUNT(*) AS orders,
               ROUND(SUM(o.o_totalprice), 2) AS volume
        FROM orders o
        GROUP BY yr, qtr ORDER BY yr, qtr
    """,
    notes=(
        "temporal accessors on DATE-TYPED PROPERTY bases (round-12 — "
        "`o.orderdate.year` / `.quarter`, the day-one seasonality "
        "spelling found by live probing after the fact tier landed; the "
        "round-11 accessor loop required a call-shaped base, so the "
        "property form fell to the generic property-resolution error). "
        "_rewrite_temporals restricts the var.prop.field form to the "
        "statically date-typed property set — map projections and "
        "ordinary property access never match — and time-of-day fields "
        "get a targeted error (a Neo4j Date has none). The accessors "
        "compose as implicit grouping keys (expression items group, "
        "Cypher semantics). Scale: extraction functions inside "
        "whole-stage codegen over the pushed-down orders scan; "
        "partial+final hash agg on the bounded (year, quarter) key. "
        "Oracle: the same extraction + grouped agg in SQL"
    ),
)
def cypher_order_seasonality(spark, sf_dir):
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH (c:Customer)-[:PLACED]->(o:Order)
           RETURN o.orderdate.year AS yr, o.orderdate.quarter AS qtr,
                  count(*) AS orders, round(sum(o.totalprice), 2) AS volume
           ORDER BY yr, qtr""",
    )


@register(
    "cypher_order_asof",
    "graph",
    oracle="""
        SELECT COUNT(*) AS n_orders,
               ROUND(SUM(o.o_totalprice), 2) AS volume
        FROM orders o
        WHERE o.o_orderdate <= TIMESTAMP '1995-06-01 00:00:00'
    """,
    notes=(
        "Time-Slider over the fact tier (round-12): AS OF composes with "
        ":PLACED — an order, once placed, exists in every later snapshot "
        "(valid_from = o_orderdate, open-ended), so the as-of business "
        "graph is the temporal ownership view unioned with the date-"
        "filtered fact edges (api._edge_frame). The snapshot filter lands "
        "BEFORE the traversal join, same as every validity filter. "
        "Oracle: the order-date cutoff in SQL"
    ),
)
def cypher_order_asof(spark, sf_dir):
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH (c:Customer)-[:PLACED]->(o:Order) AS OF '1995-06-01 00:00:00'
           RETURN count(*) AS n_orders, round(sum(o.totalprice), 2) AS volume""",
    )


@register(
    "cypher_weighted_shortest_path",
    "graph",
    oracle=f"""
        WITH RECURSIVE {HIERARCHY_SQL.strip()},
        und AS (
            SELECT src, dst, weight, src || '>' || dst AS ek FROM edges
            UNION ALL
            SELECT dst, src, weight, src || '>' || dst AS ek FROM edges
        ),
        trail(a, node, epath, cost, hops) AS (
            SELECT src, dst, [ek], weight, 1
            FROM und WHERE src IN ('c:0', 'c:1', 'c:2')
            UNION ALL
            SELECT t.a, u.dst, list_append(t.epath, u.ek),
                   t.cost + u.weight, t.hops + 1
            FROM trail t JOIN und u ON u.src = t.node
            WHERE t.hops < 3 AND NOT list_contains(t.epath, u.ek)
        )
        SELECT a AS src, node AS dst, MIN(ROUND(cost, 6)) AS min_cost
        FROM trail GROUP BY a, node ORDER BY src, dst
    """,
    notes=(
        "weighted shortest path in Cypher (round-11 stretch, F8 "
        "README.md:28 — closes the NetworkX/Dijkstra pathfinding "
        "surface): the canonical pre-GDS Neo4j idiom `MATCH "
        "(a)-[rs*1..k]-(b) … min(reduce(cost = 0.0, r IN rs | cost + "
        "r.weight))` now compiles end-to-end — the additive reduce maps "
        "onto a NEW carried accumulator `path_cost` (Σ edge weight, "
        "graph_algos.path_rows carry_cost: one extra row-local addition "
        "per hop alongside the existing Π product, no extra shuffle), "
        "and the min() aggregate is the Dijkstra relaxation over the "
        "bounded trail space (with non-negative weights a min-cost path "
        "never repeats an edge, so trail mode IS the search space; the "
        "hop bound is the declared engine posture — no unbounded "
        "traversal). Undirected traversal over the weighted hierarchy "
        "gives genuinely divergent route costs (fraction-weighted "
        "customer edges vs 1.0 structural edges). Scale: k frontier "
        "joins from a pruned seed set, group-by min — level-synchronous "
        "Dijkstra's plan family. Oracle: undirected trail-enumeration "
        "recursive CTE carrying the running sum, MIN(ROUND(cost, 6))"
    ),
)
def cypher_weighted_shortest_path(spark, sf_dir):
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH (a:Customer)-[rs*1..3]-(b)
           WHERE a.id IN ['c:0', 'c:1', 'c:2']
           WITH a.id AS src, b.id AS dst,
                reduce(cost = 0.0, r IN rs | cost + r.weight) AS cost
           RETURN src, dst, min(cost) AS min_cost
           ORDER BY src, dst""",
    )


@register(
    "cypher_agg_expression",
    "graph",
    oracle="""
        SELECT n.n_name AS nation,
               ROUND(AVG(c.c_acctbal), 6) AS avg_bal,
               ROUND(MAX(c.c_acctbal) - MIN(c.c_acctbal), 2) AS bal_range,
               ROUND(ROUND(SUM(c.c_acctbal), 6) / COUNT(*), 6) AS mean_bal
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name ORDER BY nation
    """,
    notes=(
        "post-aggregation expressions (round-11 — aggregates nested in "
        "scalar RETURN/WITH bodies: `round(avg(x), 2)`, `sum(a) / "
        "count(*)`, `max(x) - min(x)`; after plain aliases, the most "
        "common aggregating item shape a migrating Neo4j user writes). "
        "Each embedded aggregate call hoists into a HIDDEN aggregate "
        "item (`__hagN`) computed in the grouped stage; the remaining "
        "scalar body evaluates as a projection OVER the aggregated frame "
        "(cypher._hoist_aggs + the postagg branch of _apply_items) — "
        "exactly Neo4j's grouping rule, where the aggregate calls are "
        "the aggregating parts. Property access OUTSIDE the aggregate "
        "calls (an implicit grouping key inside the expression) and "
        "non-simple aggregate arguments get targeted subset errors. "
        "Scale: one partial+final hash aggregation plus a zero-shuffle "
        "projection — identical plan family to the plain aggregate "
        "form; the hidden columns never leave the stage. Oracle mirrors "
        "the engine's ROUND-6 float-hash discipline — round-2 over an "
        "avg can land on an exact .xx5 tie where Spark (shortest-decimal "
        "repr) and DuckDB (exact binary) round apart; 2-decimal inputs "
        "make round-6 tie-free, and max-min keeps round-2 (exact at 2 "
        "decimals, no tie possible)"
    ),
)
def cypher_agg_expression(spark, sf_dir):
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH (c:Customer)-[:CUSTOMER_OF]->(n:Nation)
           RETURN n.name AS nation,
                  round(avg(c.acctbal), 6) AS avg_bal,
                  round(max(c.acctbal) - min(c.acctbal), 2) AS bal_range,
                  round(sum(c.acctbal) / count(*), 6) AS mean_bal
           ORDER BY nation""",
    )


@register(
    "cypher_order_by_agg",
    "graph",
    oracle="""
        SELECT n.n_name AS nation, COUNT(*) AS members
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
        ORDER BY SUM(c.c_acctbal) DESC, nation ASC LIMIT 5
    """,
    notes=(
        "ORDER BY an aggregate expression (round-11 — `ORDER BY "
        "count(*) DESC` is the most common Cypher ordering after plain "
        "aliases, and Neo4j also allows ordering by an aggregate that "
        "is NOT a RETURN item). A key that parses as an aggregate call "
        "maps to the matching RETURN item's output column when one "
        "exists; otherwise it computes as a HIDDEN extra aggregate "
        "(legal under implicit grouping — an extra aggregate never "
        "changes the grouping keys), sorted on and dropped after "
        "paging. Undefined under RETURN DISTINCT or without an "
        "aggregating RETURN — targeted errors. The declared query "
        "exercises the hidden form: members returned, sum(acctbal) "
        "ordering. Scale: the hidden aggregate rides the same "
        "partial+final hash agg; sort+limit collapses to "
        "TakeOrderedAndProject. Oracle: GROUP BY + ORDER BY SUM in SQL "
        "(ordering only — round-6 vs exact sums cannot reorder groups "
        "that differ by > 1e-6, and the nation tiebreak pins ties)"
    ),
)
def cypher_order_by_agg(spark, sf_dir):
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH (c:Customer)-[:CUSTOMER_OF]->(n:Nation)
           RETURN n.name AS nation, count(*) AS members
           ORDER BY sum(c.acctbal) DESC, nation ASC LIMIT 5""",
    )


@register(
    "cypher_xor_where",
    "graph",
    oracle="""
        SELECT c_mktsegment AS seg, COUNT(*) AS n
        FROM customer
        WHERE (c_acctbal > 5000) <> (c_acctbal < 9000 AND c_mktsegment = 'BUILDING')
        GROUP BY seg ORDER BY seg
    """,
    notes=(
        "boolean XOR in WHERE (round-11 — openCypher's fourth boolean "
        "operator; previously leaked a raw Spark PARSE_SYNTAX_ERROR). "
        "Spark SQL has no XOR keyword: for booleans `a XOR b ≡ (a) <> "
        "(b)` including three-valued null (both read null when an "
        "operand is null). cypher._rewrite_xor is precedence-aware — "
        "Cypher binds OR < XOR < AND < NOT, so the compiled predicate "
        "splits on top-level OR first, each disjunct on top-level XOR, "
        "operands parenthesized; chained XOR folds left-associatively "
        "(boolean parity). Quote/bracket/CASE-span aware; rides the "
        "same final normalization pass as the =~ rewrite, so every "
        "predicate and expression body gets it. The declared query "
        "exercises the AND-binds-tighter case. Scale: pure expression "
        "rewrite — the filter stays a pushed-down scan predicate. "
        "Oracle: the same <> form in SQL (DuckDB boolean <> is XOR)"
    ),
)
def cypher_xor_where(spark, sf_dir):
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH (c:Customer)
           WHERE c.acctbal > 5000 XOR c.acctbal < 9000 AND c.mktsegment = 'BUILDING'
           RETURN c.mktsegment AS seg, count(*) AS n
           ORDER BY seg""",
    )


@register(
    "cypher_collect_slice",
    "graph",
    oracle="""
        SELECT n.n_name AS nation,
               MIN(c.c_name) AS first_top,
               (list_sort(list(c.c_name)))[3] AS third_top,
               LEAST(2, COUNT(*) - 1) AS mid_k
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name ORDER BY nation
    """,
    notes=(
        "list slices + collect() composition (round-11): Cypher's "
        "`xs[a..b]` range subscript — 0-based, start-inclusive, "
        "end-EXCLUSIVE, either bound omissible, negative bounds offset "
        "from the end — compiles to Spark `slice()` (1-based "
        "start/length) with cardinality()-based clamping, on ANY "
        "list-typed expression: WITH-carried lists, list literals, and "
        "via the round-11 post-aggregation path `collect(x)[0..3]` "
        "directly in an aggregating RETURN (the collect hoists to a "
        "hidden aggregate; the slice, chained subscripts and head()/ "
        "size() evaluate over the grouped frame). collect() order is "
        "pinned lexically (array_sort — the engine's cross-run "
        "determinism discipline), so the slice is deterministic; the "
        "declared query projects SCALARS out of the sliced list (head, "
        "chained [0..3][2], size) per the registry's hash-stable-cell "
        "convention (list cells break the driver's pandas sort step — "
        "same posture as agg_collect/pattern comprehensions). Scale: "
        "slice of an already-aggregated list is row-local; nothing new "
        "shuffles. Oracle: DuckDB list_sort + 1-based subscripts "
        "(MIN ≡ head-of-sorted, [3] ≡ [0..3][2], LEAST ≡ clamped size)"
    ),
)
def cypher_collect_slice(spark, sf_dir):
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH (c:Customer)-[:CUSTOMER_OF]->(n:Nation)
           RETURN n.name AS nation,
                  head(collect(c.name)[0..3]) AS first_top,
                  collect(c.name)[0..3][2] AS third_top,
                  size(collect(c.name)[1..3]) AS mid_k
           ORDER BY nation""",
    )


@register(
    "cypher_expr_aggregates",
    "graph",
    oracle="""
        SELECT n.n_name AS nation,
               ROUND(SUM(c.c_acctbal * 0.01), 6) AS bal_pct,
               COUNT(DISTINCT SUBSTRING(c.c_mktsegment, 1, 1)) AS seg_initials,
               MIN(UPPER(c.c_name)) AS first_upper
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name ORDER BY nation
    """,
    notes=(
        "aggregates over EXPRESSION arguments (round-11 second half — "
        "`sum(x * 0.01)`, `count(DISTINCT substring(s, 0, 1))`, "
        "`min(toUpper(s))`: the everyday Neo4j shape the simple-argument "
        "grammar rejected). The argument compiles through the standard "
        "expression chain and lands as a HIDDEN pre-aggregation column "
        "(`__pagN`) computed on the pattern frame BEFORE the grouped "
        "stage (cypher._mk_agg_item_expr); the aggregate runs over that "
        "column — the mirror of post-aggregation hoisting, and the two "
        "compose (`round(avg(x / 100), 3)`). Nested aggregates and "
        "missing aliases get targeted errors. Scale: the pre-projection "
        "is zero-shuffle (Catalyst folds it into the aggregate's child); "
        "plan family identical to the plain aggregate form. Oracle: the "
        "same expression aggregates in SQL (sum ROUND 6 — the engine's "
        "float-hash discipline; Cypher substring is 0-based, SQL "
        "SUBSTRING 1-based, same first character)"
    ),
)
def cypher_expr_aggregates(spark, sf_dir):
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH (c:Customer)-[:CUSTOMER_OF]->(n:Nation)
           RETURN n.name AS nation,
                  sum(c.acctbal * 0.01) AS bal_pct,
                  count(DISTINCT substring(c.mktsegment, 0, 1)) AS seg_initials,
                  min(toUpper(c.name)) AS first_upper
           ORDER BY nation""",
    )


@register(
    "cypher_stage_order_by_agg",
    "graph",
    oracle="""
        WITH top3 AS (
            SELECT n.n_name AS nation, COUNT(*) AS members
            FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
            GROUP BY n.n_name
            ORDER BY COUNT(*) DESC, nation ASC LIMIT 3
        )
        SELECT t.nation, t.members, COUNT(*) AS suppliers
        FROM top3 t
        JOIN nation n ON n.n_name = t.nation
        JOIN supplier s ON s.s_nationkey = n.n_nationkey
        GROUP BY t.nation, t.members
        ORDER BY t.nation
    """,
    notes=(
        "stage-level ORDER BY over an aggregate expression (round-11 — "
        "`WITH n, count(*) AS c ORDER BY count(*) DESC LIMIT 3` then "
        "CONTINUE the pipeline: Cypher's top-k-then-rematch idiom written "
        "the way Neo4j users actually write it, aggregate in the sort "
        "key). Same mapping rules as the RETURN path: the key maps to a "
        "matching WITH item, else computes as a hidden stage aggregate "
        "(`__sordN`, dropped at the next projection); undefined under "
        "WITH DISTINCT or a non-aggregating stage (targeted errors). The "
        "declared query takes the top-3 nations by customer count, then "
        "re-matches suppliers in those nations — the pruned-frontier "
        "composition. Scale: sort+limit collapses to "
        "TakeOrderedAndProject before the re-match join, so the probe "
        "side is 3 rows, not 25. Oracle: CTE top-3 + supplier join"
    ),
)
def cypher_stage_order_by_agg(spark, sf_dir):
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH (c:Customer)-[:CUSTOMER_OF]->(n:Nation)
           WITH n, count(*) AS members ORDER BY count(*) DESC, n ASC LIMIT 3
           MATCH (s:Supplier)-[:SUPPLIER_OF]->(n)
           RETURN n.name AS nation, members, count(s) AS suppliers
           ORDER BY nation""",
    )


@register(
    "cypher_in_labels",
    "graph",
    oracle="""
        SELECT 'customer' AS kind, COUNT(*) AS k FROM customer
        UNION ALL
        SELECT 'supplier' AS kind, COUNT(*) AS k FROM supplier
        ORDER BY kind
    """,
    notes=(
        "label membership predicates (round-11): `'Customer' IN "
        "labels(x)` — the openCypher spelling of a label test over an "
        "UNLABELED variable — previously leaked a raw Spark "
        "PARSE_SYNTAX_ERROR (labels() compiles to an array() constructor "
        "and Spark's IN takes only value lists/subqueries). "
        "cypher._rewrite_in_array rewrites any `operand IN array(…)` "
        "form to `array_contains(arr, operand)` in the same final "
        "normalization pass as =~ and XOR (quote-aware, balanced-call "
        "left-operand capture); plain `x IN [a, b]` literals keep the "
        "upstream SQL IN (…) fold. The declared query runs the same "
        "UNION twice with each label spelling to prove both paths. "
        "Scale: for a statically labeled variable the test folds to a "
        "literal array of one element — Catalyst constant-folds it to "
        "the id-prefix filter's twin; no join, no shuffle. Oracle: "
        "per-table counts"
    ),
)
def cypher_in_labels(spark, sf_dir):
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH (x)-[:CUSTOMER_OF|SUPPLIER_OF|NATION_OF]->()
           WHERE 'Customer' IN labels(x)
           RETURN 'customer' AS kind, count(*) AS k
           UNION ALL
           MATCH (y)-[:CUSTOMER_OF|SUPPLIER_OF|NATION_OF]->()
           WHERE 'Supplier' IN labels(y)
           RETURN 'supplier' AS kind, count(*) AS k
           ORDER BY kind""",
    )


@register(
    "cypher_case_over_aggregates",
    "graph",
    oracle="""
        SELECT bucket, COUNT(*) AS nations,
               ROUND(ROUND(AVG(members), 6), 1) AS avg_members
        FROM (
            SELECT n.n_name AS nation,
                   COUNT(*) AS members,
                   CASE WHEN COUNT(*) > 8 THEN 'big'
                        WHEN COUNT(*) > 4 THEN 'mid'
                        ELSE 'small' END AS bucket
            FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
            GROUP BY n.n_name
        ) GROUP BY bucket ORDER BY bucket
    """,
    notes=(
        "CASE over aggregates (round-11 — `CASE WHEN count(*) > k THEN "
        "… END`, Neo4j's conditional-bucketing idiom): aggregate calls "
        "inside a CASE body hoist into hidden aggregate items exactly "
        "like scalar-expression bodies, and the whole CASE evaluates as "
        "a post-aggregation projection over the grouped frame; property "
        "access outside the aggregates gets the targeted grouping-key "
        "error. Works in RETURN and WITH stages — the declared query "
        "buckets nations by customer count in a WITH stage, then "
        "re-aggregates per bucket (two grouped stages chained through "
        "the pipeline, each partial+final hash agg; the CASE itself is "
        "a zero-shuffle projection between them). Oracle: the same "
        "nested GROUP BY in SQL with the engine's avg ROUND-6-then-"
        "ROUND-1 float-hash discipline"
    ),
)
def cypher_case_over_aggregates(spark, sf_dir):
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH (c:Customer)-[:CUSTOMER_OF]->(n:Nation)
           WITH n.name AS nation, count(*) AS members,
                CASE WHEN count(*) > 8 THEN 'big'
                     WHEN count(*) > 4 THEN 'mid'
                     ELSE 'small' END AS bucket
           RETURN bucket, count(*) AS nations,
                  round(avg(members), 1) AS avg_members
           ORDER BY bucket""",
    )


@register(
    "cypher_temporal_accessors",
    "graph",
    oracle="""
        SELECT year(DATE '2024-03-15') AS y,
               quarter(DATE '2024-03-15') AS q,
               month(DATE '2024-03-15') AS m,
               weekofyear(DATE '2024-03-15') AS w,
               day(DATE '2024-03-15') AS d,
               isodow(DATE '2024-01-01') AS dw,
               hour(TIMESTAMP '2024-03-15 10:30:45') AS h,
               date_diff('day', DATE '2024-01-01', DATE '2024-03-15') AS diff_days,
               CAST(date_diff('month', DATE '2024-01-01', DATE '2024-03-15')
                    - CASE WHEN day(DATE '2024-03-15') < day(DATE '2024-01-01')
                           THEN 1 ELSE 0 END AS BIGINT) AS norm_months,
               date_diff('day', DATE '2024-01-01' + INTERVAL 2 MONTH,
                         DATE '2024-03-15') AS norm_days,
               month(DATE '2024-01-01' + INTERVAL 45 DAY) AS m_after
    """,
    notes=(
        "temporal component accessors + the duration diff surface "
        "(round-11, corrected round-12 — r11 ADVICE, high): "
        "`date(x).year`, `datetime(x).hour` map onto extraction "
        "functions (dayOfWeek → weekday()+1, ISO Monday=1 — Spark's "
        "dayofweek counts from Sunday), composing with the constructors "
        "and duration arithmetic (`(date(x) + duration('P45D')).month`). "
        "duration.between(a, b) NORMALIZES like Neo4j: .months = "
        "floor(months_between(b, a)) (whole months), .days = datediff(b, "
        "add_months(a, months)) (the remainder AFTER whole months — "
        "round-11 wrongly compiled this to plain datediff, i.e. "
        "duration.inDays semantics, silently wrong for spans ≥ 1 month); "
        "the TOTAL day count is the duration.inDays(a, b).days spelling "
        "→ datediff(b, a). .seconds keeps a targeted error (time-of-day "
        "carry; identically 0 for dates). Scale: pure expression "
        "rewrites — constant-folded here, plan-free. Oracle: DuckDB's "
        "extraction twins (isodow ≡ weekday+1, date_diff ≡ datediff; "
        "whole months via boundary-crossings minus the end-of-span "
        "day-of-month correction, remainder days via INTERVAL shift)"
    ),
)
def cypher_temporal_accessors(spark, sf_dir):
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """RETURN date('2024-03-15').year AS y,
                  date('2024-03-15').quarter AS q,
                  date('2024-03-15').month AS m,
                  date('2024-03-15').week AS w,
                  date('2024-03-15').day AS d,
                  date('2024-01-01').dayOfWeek AS dw,
                  datetime('2024-03-15T10:30:45').hour AS h,
                  duration.inDays(date('2024-01-01'), date('2024-03-15')).days AS diff_days,
                  duration.between(date('2024-01-01'), date('2024-03-15')).months AS norm_months,
                  duration.between(date('2024-01-01'), date('2024-03-15')).days AS norm_days,
                  (date('2024-01-01') + duration('P45D')).month AS m_after""",
    )


@register(
    "cypher_math_functions",
    "graph",
    oracle="""
        SELECT n.n_name AS nation,
               ROUND(SQRT(COUNT(*)), 6) AS root_k,
               ROUND(ROUND(SUM(LN(1 + ABS(c.c_acctbal))), 6), 3) AS log_mass,
               CAST(SIGN(MIN(c.c_acctbal)) AS DOUBLE) AS min_sign
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name ORDER BY nation
    """,
    notes=(
        "Neo4j's math-function surface (round-11): sqrt/exp/log (natural "
        "— Neo4j log() IS ln, like Spark's one-arg log)/log10/sin/cos/"
        "tan/asin/acos/atan/atan2/sign/pi()/e()/degrees/radians, allowed "
        "through the expression grammar (all Spark builtins with "
        "identical semantics; rand() admitted for parity but "
        "nondeterministic — never in oracle-checked ops). The declared "
        "query composes them with round-11 aggregate hoisting: "
        "sqrt(count(*)) is a post-aggregation expression, sum(log(1 + "
        "abs(x))) an expression-argument aggregate, sign(min(x)) both. "
        "Scale: scalar expressions inside whole-stage codegen — zero "
        "plan cost over the plain aggregate. Oracle: the same math in "
        "DuckDB (LN spelling; sum ROUND 6 then 3 — float-hash "
        "discipline over a transcendental sum)"
    ),
)
def cypher_math_functions(spark, sf_dir):
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH (c:Customer)-[:CUSTOMER_OF]->(n:Nation)
           RETURN n.name AS nation,
                  round(sqrt(count(*)), 6) AS root_k,
                  round(sum(log(1 + abs(c.acctbal))), 3) AS log_mass,
                  sign(min(c.acctbal)) AS min_sign
           ORDER BY nation""",
    )


@register(
    "cypher_scalar_rematch",
    "graph",
    oracle="""
        WITH s AS (
            SELECT list(c.c_name) AS ns, ROUND(AVG(c.c_acctbal), 6) AS m
            FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
            WHERE n.n_name = 'NATION_0'
        )
        SELECT c2.c_mktsegment AS seg, COUNT(*) AS k
        FROM customer c2, s
        WHERE list_contains(s.ns, c2.c_name) OR c2.c_acctbal > s.m
        GROUP BY seg ORDER BY seg
    """,
    notes=(
        "scalar-WITH re-match + collect-then-filter (round-11): a MATCH "
        "after a PURELY AGGREGATING WITH no longer needs a shared "
        "variable — the piped frame is exactly ONE row by construction "
        "(global aggregation), so the re-match compiles to a broadcast "
        "1×N cross join (zero piped rows → zero out, as Neo4j). This "
        "unlocks the two idioms every Neo4j migration hits: `WITH "
        "collect(x) AS xs MATCH (y) WHERE y.prop IN xs` (membership "
        "over a stage-carried LIST → array_contains, not SQL IN — the "
        "post-WITH WHERE now runs the full list-expression rewriter) "
        "and `WITH avg(x) AS m MATCH (y) WHERE y.v > m` (dynamic "
        "threshold). Keyed WITH stages and OPTIONAL keep the targeted "
        "rejection (a multi-row cross product / a null-extension a "
        "cross join cannot express). Scale: the scalar side is one "
        "broadcast row — the join adds no shuffle, and the group-bounded "
        "collect list rides the broadcast. Oracle: the same one-row CTE "
        "cross join in SQL (list_contains ≡ array_contains; avg ROUND 6 "
        "per the float-hash discipline)"
    ),
)
def cypher_scalar_rematch(spark, sf_dir):
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH (c:Customer)-[:CUSTOMER_OF]->(n:Nation)
           WHERE n.name = 'NATION_0'
           WITH collect(c.name) AS ns, avg(c.acctbal) AS m
           MATCH (c2:Customer)
           WHERE c2.name IN ns OR c2.acctbal > m
           RETURN c2.mktsegment AS seg, count(*) AS k
           ORDER BY seg""",
    )


@register(
    "cypher_multiseg_path_var",
    "graph",
    oracle="""
        SELECT 'c:' || c.c_custkey AS src,
               2 AS hops,
               'c:' || c.c_custkey || '|n:' || c.c_nationkey
                    || '|r:' || n.n_regionkey AS path_nodes,
               'c:' || c.c_custkey || '>n:' || c.c_nationkey
                    || '|n:' || c.c_nationkey || '>r:' || n.n_regionkey
                    AS path_rels
        FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
        ORDER BY src
    """,
    notes=(
        "path variable over a MULTI-SEGMENT chain (round-14, r13 VERDICT "
        "#3 / 'missing' #1): `p = (c)-[:X]->(n)-[:Y]->(r)` — the most "
        "common tutorial spelling of F1 path extraction (reference "
        "README.md:11). When every segment is a fixed single hop and the "
        "segments form one written linear chain, the path is ROW-LOCAL: "
        "nodes(p) compiles to array(c, n, r) over the bound variables, "
        "length(p) to the literal segment count, relationships(p) to the "
        "per-segment 'a>b' edge keys — plain SQL projections, zero extra "
        "joins/shuffles beyond the pattern's own equi-joins (verified: "
        "the plan is the same two broadcast hash joins the bare pattern "
        "compiles to). Var-length multi-segment chains, comma chains, "
        "and cycle repeats keep a targeted error (their paths are not "
        "row-local). Scale: pure projection — nothing beyond the "
        "pattern's joins at any SF. Oracle: the explicit customer⋈nation "
        "join building the same string encodings. Declared query "
        "stringifies the arrays for the driver's scalar-cell hash; the "
        "Cypher surface returns real arrays (tests/test_round14_ops.py)"
    ),
)
def cypher_multiseg_path_var(spark, sf_dir):
    """MATCH p = (c:Customer)-[:CUSTOMER_OF]->(:Nation)-[:NATION_OF]->
    (r:Region) with nodes(p)/length(p)/relationships(p) projections."""
    from mimranalytics_core_spark import api

    df = api.cypher(
        spark,
        sf_dir,
        """MATCH p = (c:Customer)-[:CUSTOMER_OF]->(:Nation)
                     -[:NATION_OF]->(r:Region)
           RETURN c.id AS src, length(p) AS hops, nodes(p) AS pn,
                  relationships(p) AS pr
           ORDER BY src""",
    )
    return df.select(
        "src",
        "hops",
        F.array_join("pn", "|").alias("path_nodes"),
        F.array_join("pr", "|").alias("path_rels"),
    )


@register(
    "cypher_schema_proc_yield_return",
    "graph",
    oracle="""
        SELECT * FROM (VALUES ('Supplier'), ('Region'), ('Part'))
            AS t(label)
    """,
    notes=(
        "CALL db.<proc>() YIELD x RETURN x [ORDER BY x [DESC]] [LIMIT n] "
        "(round-14, r13 VERDICT #4): the exact three-clause form Neo4j "
        "Browser and drivers emit on connect — round-13 accepted YIELD "
        "but rejected the trailing RETURN. The RETURN/ORDER BY names "
        "must match the procedure's one yielded column (targeted error "
        "otherwise); DISTINCT is accepted as a no-op (the procedures "
        "emit distinct values by construction). Scale: literal-sized "
        "metadata relation, no scan at any SF. Oracle: the same VALUES "
        "list (business-graph labels, descending, top 3)"
    ),
)
def cypher_schema_proc_yield_return(spark, sf_dir):
    """CALL db.labels() YIELD label RETURN label ORDER BY label DESC
    LIMIT 3 — the connect-time introspection form drivers emit."""
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        "CALL db.labels() YIELD label RETURN label ORDER BY label DESC "
        "LIMIT 3",
        graph="business",
    )


@register(
    "cypher_propmap_correlated_match",
    "graph",
    oracle="""
        SELECT 'c:' || c.c_custkey AS cust, COUNT(*) AS n_orders
        FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY 1
        ORDER BY cust
    """,
    notes=(
        "property-map-only correlation after WITH (round-14, r13 VERDICT "
        "#5): `WITH c MATCH (o:Order {custkey: c.custkey})` previously "
        "required a shared pattern VARIABLE. The ref-valued map conjunct "
        "is now the stage clause's EQUI-JOIN key at execution: each side "
        "attaches the referenced attribute from the label-pruned "
        "attribute view, then a plain shuffled hash join on the equality "
        "— verified NO BroadcastNestedLoopJoin/cartesian in the plan "
        "even with an unbounded piped frame (a cross join + post-filter "
        "would not push through the attr-view chain; measured before the "
        "fix). Literal conjuncts in the same map keep the post-filter "
        "path. Scale: one hash shuffle on the correlation key — the same "
        "plan the explicit SQL join takes. Oracle: that explicit join"
    ),
)
def cypher_propmap_correlated_match(spark, sf_dir):
    """WITH c MATCH (o:Order {custkey: c.custkey}) — the re-match joins
    through the property map alone (no shared pattern variable)."""
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH (c:Customer) WITH c
           MATCH (o:Order {custkey: c.custkey})
           RETURN c.id AS cust, count(o) AS n_orders
           ORDER BY cust""",
    )


@register(
    "cypher_optional_match_leading",
    "graph",
    oracle="""
        SELECT CAST(NULL AS VARCHAR) AS cid, CAST(NULL AS VARCHAR) AS nid
        UNION ALL
        SELECT 'c:7', 'n:' || c_nationkey FROM customer WHERE c_custkey = 7
    """,
    notes=(
        "leading OPTIONAL MATCH (round-14, r13 VERDICT #6): Neo4j allows "
        "a query to OPEN with OPTIONAL MATCH — zero pattern matches "
        "yield ONE all-null row. Executes through the generic clause "
        "loop (never the single-segment trail stream): the clause frame "
        "applies its labels, property maps, and clause-scoped WHERE "
        "first (pattern scope — they must filter BEFORE null-extension), "
        "then LEFT-joins from a one-row unit frame on a constant key "
        "(1-row build side broadcast; pass-through when matches exist). "
        "Scale: the unit join adds one broadcast of one row — nothing "
        "else changes vs the plain MATCH plan. Oracle: a NULL row UNION "
        "the matched chain. Declared query unions the zero-match form "
        "(synthetic name) with a matched single-customer chain"
    ),
)
def cypher_optional_match_leading(spark, sf_dir):
    """A query opening with OPTIONAL MATCH: zero-match null row + a
    matched variant, unioned."""
    from mimranalytics_core_spark import api

    a = api.cypher(
        spark,
        sf_dir,
        "OPTIONAL MATCH (c:Customer {name: 'NoSuchCustomer#999'})"
        "-[:CUSTOMER_OF]->(n:Nation) RETURN c.id AS cid, n.id AS nid",
    )
    b = api.cypher(
        spark,
        sf_dir,
        "OPTIONAL MATCH (c:Customer {custkey: 7})-[:CUSTOMER_OF]->"
        "(n:Nation) RETURN c.id AS cid, n.id AS nid",
    )
    return a.unionByName(b)


@register(
    "cypher_in_comprehension",
    "graph",
    oracle="""
        WITH c1 AS (
            SELECT c_custkey FROM customer WHERE c_nationkey = 1
        )
        SELECT 'c:' || c_custkey AS src, 'n:1' AS dst, 1 AS hops FROM c1
        UNION ALL
        SELECT 'c:' || c1.c_custkey, 'r:' || n.n_regionkey, 2
        FROM c1, nation n WHERE n.n_nationkey = 1
        ORDER BY src, dst, hops
    """,
    notes=(
        "membership over a list COMPREHENSION in WHERE (round-14, r13 "
        "VERDICT #10): `'n:1' IN [z IN nodes(p) | z]` — the IN-list "
        "folder now recognizes a comprehension body and leaves its "
        "brackets for the list-expression rewriter (transform/filter), "
        "and the IN-array rewrite maps membership over transform()/"
        "filter() results to array_contains. Row-local lambda over the "
        "O(hops) path array — no join, no shuffle beyond the traversal "
        "itself. Oracle: paths through n:1 are exactly nation-1 "
        "customers' 1-hop (→n:1) and 2-hop (→its region) walks"
    ),
)
def cypher_in_comprehension(spark, sf_dir):
    """WHERE 'n:1' IN [z IN nodes(p) | z] over an untyped 1..2-hop
    traversal — the comprehension spelling of path membership."""
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH p = (c:Customer)-[*1..2]->(x)
           WHERE 'n:1' IN [z IN nodes(p) | z]
           RETURN c.id AS src, x.id AS dst, length(p) AS hops
           ORDER BY src, dst, hops""",
    )


@register(
    "graph_k_shortest_paths",
    "graph",
    oracle="""
        WITH src AS (
            SELECT 'c:' || c_custkey AS s FROM customer WHERE c_custkey < 200
        ),
        pl AS (
            SELECT 'c:' || o_custkey AS esrc, 'o:' || o_orderkey AS edst
            FROM orders
        ),
        co AS (
            SELECT DISTINCT 'o:' || l_orderkey AS esrc,
                   'p:' || l_partkey AS edst
            FROM lineitem
        ),
        l1 AS (
            SELECT s.s AS source, p.edst AS node,
                   s.s || '|' || p.edst AS path
            FROM src s JOIN pl p ON p.esrc = s.s
        ),
        l2 AS (
            SELECT l1.source, c.edst AS node,
                   l1.path || '|' || c.edst AS path
            FROM l1 JOIN co c ON c.esrc = l1.node
        ),
        lvl AS (
            SELECT source, node, 1 AS dist, path FROM l1
            UNION ALL
            SELECT source, node, 2 AS dist, path FROM l2
        ),
        r AS (
            SELECT source, node, dist, path,
                   ROW_NUMBER() OVER (
                       PARTITION BY source, node ORDER BY path) AS rn,
                   COUNT(*) OVER (PARTITION BY source, node) AS sigma
            FROM lvl
        ),
        g AS (
            SELECT source, node, dist, MAX(sigma) AS sigma
            FROM r GROUP BY source, node, dist
        ),
        topk AS (
            SELECT source, node,
                   string_agg(path, ',' ORDER BY path) AS paths_str
            FROM r WHERE rn <= 2 GROUP BY source, node
        )
        SELECT g.source, g.node, g.dist, CAST(g.sigma AS BIGINT) AS sigma,
               t.paths_str
        FROM g JOIN topk t USING (source, node)
        UNION ALL
        SELECT s AS source, s AS node, 0 AS dist, CAST(1 AS BIGINT) AS sigma,
               s AS paths_str
        FROM src
        ORDER BY source, node
    """,
    notes=(
        "bounded-K allShortestPaths enumeration (round-14, r13 VERDICT "
        "'missing' #6): σ counted paths without enumerating them; this "
        "returns the EXACT true count σ per (source, node) PLUS the K=2 "
        "lexicographically-smallest shortest paths (functions/"
        "graph_algos.multi_source_k_shortest_paths). The per-level K-cap "
        "is exact, not approximate — top-k distributes over union, and "
        "within one (source, node, dist) group no path string is a "
        "strict prefix of another, so appending a common suffix "
        "preserves string order: the k kept prefixes at every "
        "predecessor are exactly what the k smallest full paths need. "
        "σ > size(paths) makes the cap VISIBLE (the honest contract "
        "unbounded enumeration can't offer at 100 TB: row width stays "
        "O(k·depth) ids while the path set grows combinatorially). Runs "
        "on the business fact tiers (customer→PLACED→order→CONTAINS→"
        "part) where multiple equal-length paths genuinely exist (a "
        "customer reaching a part through several orders; σ reaches 3 at sf0.01, so σ > size(paths) rows make the cap visibly bite). Scale: "
        "supersteps = hop bound; one join + one agg per level for all "
        "sources at once. Oracle: two explicit levels + window top-3"
    ),
)
def graph_k_shortest_paths(spark, sf_dir):
    """σ + top-2 shortest paths per (customer, reached node) over the
    placed∪contains fact tiers, sources c:0..c:199, depth 2."""
    from mimranalytics_core_spark.functions.graph_algos import (
        multi_source_k_shortest_paths,
    )

    tables(spark, sf_dir)
    edges = catalog.placed_edges(spark, sf_dir).unionByName(
        catalog.contains_edges(spark, sf_dir)
    )
    sources = (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < 200)
        .select(F.concat(F.lit("c:"), F.col("c_custkey")).alias("node"))
    )
    out = multi_source_k_shortest_paths(edges, sources, max_depth=2, k=2)
    return out.select(
        "source",
        "node",
        "dist",
        "sigma",
        F.array_join("paths", ",").alias("paths_str"),
    ).orderBy("source", "node")


@register(
    "cypher_boolean_group_key",
    "graph",
    oracle="""
        SELECT c_acctbal > 5000 AS rich,
               c_mktsegment = 'BUILDING' AS bldg,
               COUNT(*) AS cnt
        FROM customer
        GROUP BY 1, 2
        ORDER BY rich, bldg
    """,
    notes=(
        "boolean expressions as RETURN items / implicit grouping keys "
        "(round-14 probe find): `RETURN c.acctbal > 5000 AS rich, "
        "count(*) AS cnt` — Neo4j's boolean-bucketing idiom was rejected "
        "('unsupported RETURN item') because the scalar-expression item "
        "gate only admitted parens/brackets/arithmetic/IN; comparisons, "
        "IS [NOT] NULL, and AND/OR/NOT/XOR/STARTS WITH/ENDS WITH/"
        "CONTAINS now route through the same expression pipeline with "
        "the same parse-time bare-name validation (a typo'd operand is "
        "still a targeted error, not Spark's UNRESOLVED_COLUMN). Scale: "
        "grouping on a computed boolean is the same two-phase hash agg "
        "as any low-cardinality key. Oracle: the same grouped comparison"
    ),
)
def cypher_boolean_group_key(spark, sf_dir):
    """RETURN <comparison> AS key, count(*) — boolean bucketing."""
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH (c:Customer)
           RETURN c.acctbal > 5000 AS rich,
                  c.mktsegment = 'BUILDING' AS bldg,
                  count(*) AS cnt
           ORDER BY rich, bldg""",
    )


@register(
    "cypher_comparison_chain",
    "graph",
    oracle="""
        SELECT c_mktsegment AS seg, COUNT(*) AS n
        FROM customer
        WHERE 1000 <= c_acctbal AND c_acctbal <= 5000
        GROUP BY c_mktsegment
        ORDER BY seg
    """,
    notes=(
        "Neo4j comparison CHAINING (round-14 probe find): `1000 <= "
        "c.acctbal <= 5000` means the conjunction of adjacent pairs — "
        "the raw chain previously leaked Spark's DATATYPE_MISMATCH "
        "(boolean <= number). _rewrite_cmp_chains expands depth-0 chains "
        "per boolean atom (through AND/OR/XOR operands, NOT prefixes, "
        "parens; =~, relationship arrows, and CASE atoms are never "
        "links) in every WHERE site: stage-0, per-clause, stage WITH-"
        "WHERE, post-WITH. Scale: the expansion is the same pushable "
        "range conjunction the user meant — both bounds reach "
        "PushedFilters. Oracle: the expanded conjunction"
    ),
)
def cypher_comparison_chain(spark, sf_dir):
    """WHERE 1000 <= c.acctbal <= 5000 — Neo4j operator chaining."""
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH (c:Customer) WHERE 1000 <= c.acctbal <= 5000
           RETURN c.mktsegment AS seg, count(*) AS n ORDER BY seg""",
    )


@register(
    "cypher_temporal_bare_match",
    "graph",
    oracle="""
        SELECT 's:' || l_suppkey AS sup, COUNT(*) AS holders
        FROM (
            SELECT DISTINCT o_custkey, l_suppkey
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        ) t
        GROUP BY 1
        ORDER BY holders DESC, sup
        LIMIT 10
    """,
    notes=(
        "bare (no-AS-OF) MATCH on the temporal ownership tier (round-15, "
        "r14 VERDICT #1 — the one real defect found that round): "
        "`MATCH (a)-[:OWNS_STAKE]->(b)` previously matched silently "
        "EMPTY because owns_stake edges live only in the temporal view "
        "and nothing routed a bare mention there (unlike the fact tiers' "
        "_FACT_TIER_RE). api._edge_frame now routes any typed segment "
        "naming owns_stake onto the temporal view with the as_of='*' "
        "open-validity sentinel — bare semantics = every edge regardless "
        "of [valid_from, valid_to], which is what Neo4j returns. Routing "
        "is per SEGMENT, so untyped traversals keep the pruned entity "
        "graph (100 TB posture unchanged) and AS OF queries are "
        "byte-identical. Scale: same grouped-agg edge build + hash agg; "
        "no validity filter simply means no filter. Oracle: the distinct "
        "(custkey, suppkey) pair count per supplier"
    ),
)
def cypher_temporal_bare_match(spark, sf_dir):
    """MATCH (a)-[:OWNS_STAKE]->(b) without AS OF — all-validity edges."""
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH (a)-[:OWNS_STAKE]->(b)
           RETURN b.id AS sup, count(*) AS holders
           ORDER BY holders DESC, sup LIMIT 10""",
    )


@register(
    "cypher_temporal_bare_headline",
    "graph",
    oracle="""
        WITH eo AS (
            SELECT DISTINCT 'c:' || o_custkey AS src, 's:' || l_suppkey AS dst
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        ),
        es AS (
            SELECT DISTINCT 's:' || l_suppkey AS src, 'n:' || s_nationkey AS dst
            FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        )
        SELECT hops, COUNT(*) AS n FROM (
            SELECT 1 AS hops FROM eo
            UNION ALL
            SELECT 2 AS hops FROM eo JOIN es ON eo.dst = es.src
        ) t
        GROUP BY hops
        ORDER BY hops
    """,
    notes=(
        "MIGRATION.md's own headline example (round-15, r14 VERDICT #1): "
        "`MATCH (a)-[:OWNS_STAKE|SUPPLIER_OF*1..4]->(b) WHERE a.id "
        "STARTS WITH 'c:'` returned 0 rows as written before the "
        "temporal-tier routing — and with SUPPLIER_OF in the alternation "
        "it would have returned PARTIAL results silently had the entity "
        "graph carried that type from customers. Now the whole "
        "alternation resolves against the temporal view open-validity: "
        "hops=1 is the c->s stake tier, hops=2 the c->s->n closure "
        "(supplier_of has no outgoing edges in the type subset, so the "
        "*1..4 bound saturates at 2 — the oracle needs no recursion). "
        "Oracle: union of the 1-hop tier and the 2-hop join, counted per "
        "hop"
    ),
)
def cypher_temporal_bare_headline(spark, sf_dir):
    """The MIGRATION.md headline Cypher string, run as written."""
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH (a)-[:OWNS_STAKE|SUPPLIER_OF*1..4]->(b)
           WHERE a.id STARTS WITH 'c:'
           RETURN hops, count(*) AS n ORDER BY hops""",
    )


@register(
    "cypher_rel_list_comprehension",
    "graph",
    oracle="""
        WITH RECURSIVE tedges AS (
            SELECT 'c:' || o.o_custkey AS src, 's:' || l.l_suppkey AS dst,
                   MIN(o.o_orderdate) AS valid_from,
                   MAX(o.o_orderdate) AS valid_to,
                   SUM(l.l_extendedprice) AS vol
            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
            WHERE o.o_custkey < 150
            GROUP BY o.o_custkey, l.l_suppkey
        ),
        snap1 AS (
            SELECT src, dst, vol / SUM(vol) OVER (PARTITION BY src) AS weight
            FROM tedges
            WHERE valid_from <= TIMESTAMP '1997-06-01 00:00:00'
              AND TIMESTAMP '1997-06-01 00:00:00' <= valid_to
        ),
        sedges AS (
            SELECT 's:' || l.l_suppkey AS src, 'n:' || s.s_nationkey AS dst,
                   MIN(l.l_shipdate) AS valid_from,
                   MAX(l.l_shipdate) AS valid_to
            FROM supplier s JOIN lineitem l ON l.l_suppkey = s.s_suppkey
            GROUP BY l.l_suppkey, s.s_nationkey
        ),
        snap2 AS (
            SELECT src, dst, CAST(1 AS DOUBLE) AS weight FROM sedges
            WHERE valid_from <= TIMESTAMP '1997-06-01 00:00:00'
              AND TIMESTAMP '1997-06-01 00:00:00' <= valid_to
        ),
        snap3 AS (
            SELECT 'n:' || n_nationkey AS src, 'r:' || n_regionkey AS dst,
                   CAST(1 AS DOUBLE) AS weight
            FROM nation
        ),
        vedges AS (
            SELECT * FROM snap1 UNION ALL SELECT * FROM snap2
            UNION ALL SELECT * FROM snap3
        ),
        paths(owner, entity, wlist, depth) AS (
            SELECT src, dst,
                   printf('%.6f', FLOOR(weight * 1e6 + 0.5) / 1e6), 1
            FROM vedges WHERE src LIKE 'c:%'
            UNION ALL
            SELECT p.owner, e.dst,
                   p.wlist || '|'
                       || printf('%.6f', FLOOR(e.weight * 1e6 + 0.5) / 1e6),
                   p.depth + 1
            FROM paths p JOIN vedges e ON e.src = p.entity
            WHERE p.depth < 3
        )
        SELECT owner, entity, depth AS hops, wlist
        FROM paths
    """,
    notes=(
        "relationship-list comprehensions (round-15, r14 VERDICT #2): "
        "`[r IN relationships(p) | r.weight]` / `[r IN rs | expr]` — the "
        "tutorial form for inspecting path edges, previously a targeted "
        "rejection (only the reduce weight-product/sum forms compiled). "
        "The trail machinery now carries the ordered per-hop weight "
        "array (path_rows keep_weights → api.match_path "
        "carry_weight_list → the path_weights column): the same "
        "row-local array append the edge-key path uses, zero extra "
        "shuffle, built only when a comprehension asks for it. The "
        "comprehension re-emits as a generic list comprehension over "
        "path_weights, so the ordinary transform/filter lowering owns "
        "binder scoping; `r.weight` maps to the lambda binder, any "
        "other property is a targeted error. Oracle: recursive CTE "
        "accumulating the per-hop weight string along each path — "
        "per-path rows, no aggregation, list stringified '%.6f'-joined "
        "on both sides"
    ),
)
def cypher_rel_list_comprehension(spark, sf_dir):
    """[r IN relationships(p) | r.weight] over OWNS_STAKE*1..3 AS OF."""
    from mimranalytics_core_spark import api

    df = api.cypher(
        spark,
        sf_dir,
        """MATCH p = (a)-[:OWNS_STAKE|SUPPLIER_OF|NATION_OF*1..3]->(b)
           AS OF '1997-06-01'
           WHERE a.id STARTS WITH 'c:' AND a.custkey < 150
           RETURN a.id AS owner, b.id AS entity, hops,
                  [r IN relationships(p) | r.weight] AS ws""",
    )
    return df.select(
        "owner",
        "entity",
        "hops",
        F.concat_ws(
            "|", F.transform("ws", lambda w: F.format_string("%.6f", w))
        ).alias("wlist"),
    )


@register(
    "cypher_zero_length_path",
    "graph",
    oracle="""
        SELECT 'n:' || n_nationkey AS src, 'n:' || n_nationkey AS dst,
               0 AS hops
        FROM nation
        UNION ALL
        SELECT 'n:' || n_nationkey, 'r:' || n_regionkey, 1
        FROM nation
        ORDER BY hops, src, dst
    """,
    notes=(
        "zero-length variable paths `*0..n` (round-15, r14 VERDICT #3): "
        "previously a RAW ValueError from the traversal layer — now real "
        "Neo4j semantics: the length-0 path binds a = b for every graph "
        "node (relationship-type constraints are per-relationship and "
        "hold vacuously on an empty list), implemented as a node-view "
        "projection unioned under the >=1-hop enumeration in "
        "api.match_path (no join, no shuffle for the zero tier); "
        "path_weight is the multiplicative identity, the edge/weight "
        "arrays empty (so nodes(p) on a 0-hop row is the single node). "
        "Inverted bounds (*3..1) are now a targeted parse error — the "
        "engine's error contract, one layer lower than round-14's "
        "ParseException net. Oracle: the self-row union of the nation "
        "tier with its 1-hop closure"
    ),
)
def cypher_zero_length_path(spark, sf_dir):
    """MATCH (a)-[:NATION_OF*0..1]->(b) — zero-length path semantics."""
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH (a)-[:NATION_OF*0..1]->(b)
           WHERE a.id STARTS WITH 'n:'
           RETURN a.id AS src, b.id AS dst, hops
           ORDER BY hops, src, dst""",
    )


@register(
    "cypher_anon_undirected_hop",
    "graph",
    oracle="""
        SELECT nation, COUNT(*) AS degree FROM (
            SELECT 'n:' || c_nationkey AS nation FROM customer
            UNION ALL SELECT 'n:' || s_nationkey FROM supplier
            UNION ALL SELECT 'n:' || n_nationkey FROM nation
        ) t
        GROUP BY nation
        ORDER BY nation
    """,
    notes=(
        "anonymous undirected single-hop `(a)--(b)` (round-15, r14 "
        "VERDICT #4): the day-one schema-exploration spelling previously "
        "fell to the generic 'unsupported Cypher tail' error while the "
        "bracketed `-[]-` worked. _rewrite_bare_arrows desugars the "
        "bracket-free arrows between node patterns (`--`, `-->`, `<--`) "
        "to the bracketed forms the relationship scanner already owns — "
        "quote-aware, paren-adjacent only, before the anonymous-node "
        "pass so `()--()` also lands structurally. Undirected semantics "
        "are the existing symmetrized trail view (each stored edge "
        "usable once per path in either direction). Oracle: per-nation "
        "incident-edge counts over the three hierarchy tiers"
    ),
)
def cypher_anon_undirected_hop(spark, sf_dir):
    """MATCH (a:Nation)--(b) — bare undirected hop, per-node degree."""
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH (a:Nation)--(b)
           RETURN a.id AS nation, count(*) AS degree
           ORDER BY nation""",
    )


@register(
    "cypher_in_membership_item",
    "graph",
    oracle="""
        SELECT c_nationkey IN (1, 2, 3) AS inn, COUNT(*) AS n
        FROM customer
        GROUP BY 1
        ORDER BY inn
    """,
    notes=(
        "list membership as a boolean RETURN item / implicit grouping "
        "key (round-15 probe find): `RETURN c.nationkey IN [1, 2, 3] AS "
        "inn, count(*)` — the membership rewrite ran before item parsing "
        "so the compiled SQL carried a bare IN token the item name-scan "
        "rejected; the WHERE position never scans names, which is why "
        "only the item form failed. Same two-phase hash agg on a "
        "computed boolean as the round-14 comparison-key idiom. Oracle: "
        "the same grouped membership"
    ),
)
def cypher_in_membership_item(spark, sf_dir):
    """RETURN c.nationkey IN [1,2,3] AS inn, count(*) — IN bucketing."""
    from mimranalytics_core_spark import api

    return api.cypher(
        spark,
        sf_dir,
        """MATCH (c:Customer)
           RETURN c.nationkey IN [1, 2, 3] AS inn, count(*) AS n
           ORDER BY inn""",
    )

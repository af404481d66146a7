"""Round-7 additions: ADVICE backslash round-trips (UNWIND / CONTAINS),
the linear-output reshape of cypher_expr_coalesce, Cypher inline property
maps, path variables, MP4 box metadata, and write-clause posture."""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMALL


def test_unwind_param_backslash_round_trips(spark):
    """bind_params doubles backslashes for the F.expr path; the UNWIND
    list-literal branch feeds F.lit directly and must UNDO that doubling
    (ADVICE r6: 'a\\b' round-tripped as a two-backslash string)."""
    from mimranalytics_core_spark import api

    rows = api.cypher(
        spark, SF_SMALL, "UNWIND $xs AS x RETURN x", params={"xs": ["a\\b", "c\\"]}
    ).collect()
    assert sorted(r.x for r in rows) == ["a\\b", "c\\"]


def test_contains_param_backslash_matches_single(spark):
    """STARTS WITH / ENDS WITH / CONTAINS literals arrive pre-doubled from
    bind_params; the LIKE rewrite must escape ONE actual backslash to four
    in the SQL text, not eight (ADVICE r6: the pattern matched two
    backslashes per original one)."""
    from mimranalytics_core_spark import api

    # No customer name contains a backslash — but the query must compile
    # and filter on ONE backslash, not crash or silently match nothing
    # for the wrong reason. Build a positive case via UNWIND + WHERE.
    rows = api.cypher(
        spark,
        SF_SMALL,
        "UNWIND $xs AS x MATCH (c:Customer)-[:CUSTOMER_OF]->(n) "
        "WHERE x CONTAINS $needle RETURN DISTINCT x",
        params={"xs": ["hit\\mid", "miss"], "needle": "t\\m"},
    ).collect()
    assert [r.x for r in rows] == ["hit\\mid"]


def test_starts_ends_with_param_backslash(spark):
    from mimranalytics_core_spark import api

    rows = api.cypher(
        spark,
        SF_SMALL,
        "UNWIND $xs AS x MATCH (c:Customer)-[:CUSTOMER_OF]->(n) "
        "WHERE x STARTS WITH $p RETURN DISTINCT x",
        params={"xs": ["\\lead", "other"], "p": "\\l"},
    ).collect()
    assert [r.x for r in rows] == ["\\lead"]
    rows = api.cypher(
        spark,
        SF_SMALL,
        "UNWIND $xs AS x MATCH (c:Customer)-[:CUSTOMER_OF]->(n) "
        "WHERE x ENDS WITH $s RETURN DISTINCT x",
        params={"xs": ["tail\\", "other"], "s": "l\\"},
    ).collect()
    assert [r.x for r in rows] == ["tail\\"]


# ---- Cypher inline property maps (r6 verdict task 2) ----


def test_property_map_id_equality(spark):
    from mimranalytics_core_spark import api

    rows = api.cypher(
        spark, SF_SMALL, "MATCH (c {id: 'c:42'})-[:CUSTOMER_OF]->(n) RETURN c, n"
    ).collect()
    assert len(rows) == 1 and rows[0].c == "c:42"


def test_property_map_name_on_nonstart_var(spark):
    from mimranalytics_core_spark import api

    rows = api.cypher(
        spark,
        SF_SMALL,
        "MATCH (s:Supplier)-[:SUPPLIER_OF]->(n {name: 'NATION_3'}) "
        "RETURN s, n.name AS nname ORDER BY s",
    ).collect()
    assert len(rows) >= 1
    assert all(r.nname == "NATION_3" for r in rows)


def test_property_map_optional_null_extends(spark):
    """A map on an OPTIONAL MATCH node filters BEFORE the left join —
    non-matching rows null-extend instead of vanishing (Neo4j scoping)."""
    from mimranalytics_core_spark import api

    base = api.cypher(
        spark, SF_SMALL, "MATCH (c)-[:CUSTOMER_OF]->(n) RETURN c"
    ).count()
    rows = api.cypher(
        spark,
        SF_SMALL,
        "MATCH (c)-[:CUSTOMER_OF]->(n) "
        "OPTIONAL MATCH (s {name: 'NO_SUCH_SUPPLIER'})-[:SUPPLIER_OF]->(n) "
        "RETURN c, coalesce(s.id, 'none') AS sid",
    ).collect()
    assert len(rows) == base > 0
    assert all(r.sid == "none" for r in rows)


def test_property_map_pushes_below_first_join(spark):
    """An id map on the start variable must reach the scan side — the
    equality filter sits BELOW every join in the physical plan."""
    import contextlib
    import io
    import re as _re

    from mimranalytics_core_spark import api

    for query, joins in (
        # a weightless traversal plans no join at all (the nation-share
        # aggregate behind customer_of weights is eliminated)
        ("MATCH (c {id: 'c:42'})-[:CUSTOMER_OF]->(n) RETURN c, n", False),
        # n.name joins the nation table: the filter stays below that join
        ("MATCH (c {id: 'c:42'})-[:CUSTOMER_OF]->(n) RETURN c, n.name AS nn", True),
    ):
        df = api.cypher(spark, SF_SMALL, query)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(mode="formatted")
        plan = buf.getvalue()
        # operator ids number leaves-first: a Filter BELOW a join has a
        # smaller id than the join. Split the detail dump into (id, body)
        # sections; the filter carrying the literal must sit under every join.
        sections = _re.split(r"\n\((\d+)\) ", "\n" + plan)
        ops = list(zip(sections[1::2], sections[2::2]))  # (id, "Name\n...body")
        filt_ids = [int(i) for i, b in ops if b.startswith("Filter") and "c:42" in b]
        join_ids = [int(i) for i, b in ops if "Join" in b.split("\n", 1)[0]]
        assert filt_ids and bool(join_ids) == joins, plan
        assert all(min(filt_ids) < j for j in join_ids), plan


def test_property_map_after_with_stage(spark):
    from mimranalytics_core_spark import api

    rows = api.cypher(
        spark,
        SF_SMALL,
        "MATCH (c)-[:CUSTOMER_OF]->(n) WITH n, count(*) AS cnt "
        "MATCH (s:Supplier {name: 'Supplier#000000001'})-[:SUPPLIER_OF]->(n) "
        "RETURN n, cnt, s.name AS sn",
    ).collect()
    assert len(rows) == 1 and rows[0].sn == "Supplier#000000001"


def test_property_map_optional_after_with_rejected(spark):
    from mimranalytics_core_spark.cypher import CypherSyntaxError, parse

    with pytest.raises(CypherSyntaxError, match="OPTIONAL MATCH after WITH"):
        parse(
            "MATCH (c)-[:CUSTOMER_OF]->(n) WITH n, count(*) AS cnt "
            "OPTIONAL MATCH (s {name: 'X'})-[:SUPPLIER_OF]->(n) "
            "RETURN n, cnt"
        )


def test_property_map_unknown_key_rejected(spark):
    from mimranalytics_core_spark.cypher import CypherSyntaxError, parse

    with pytest.raises(CypherSyntaxError, match="unknown node property"):
        parse("MATCH (c {nope: 'x'})-[:CUSTOMER_OF]->(n) RETURN c")


def test_property_map_bad_entry_rejected(spark):
    from mimranalytics_core_spark.cypher import CypherSyntaxError, parse

    # round-13: an identifier value is now a VARIABLE REFERENCE — an
    # unbound one gets the targeted unknown-variable error; a structurally
    # bad entry keeps the original rejection
    with pytest.raises(CypherSyntaxError, match="unknown variable"):
        parse("MATCH (c {id: foo})-[:CUSTOMER_OF]->(n) RETURN c")
    with pytest.raises(CypherSyntaxError, match="property-map entry"):
        parse("MATCH (c {id: 1 + 2})-[:CUSTOMER_OF]->(n) RETURN c")


def test_property_map_empty_is_noop(spark):
    from mimranalytics_core_spark import api

    a = api.cypher(
        spark, SF_SMALL, "MATCH (c {})-[:CUSTOMER_OF]->(n) RETURN c"
    ).count()
    b = api.cypher(spark, SF_SMALL, "MATCH (c)-[:CUSTOMER_OF]->(n) RETURN c").count()
    assert a == b > 0


def test_property_map_param_binds(spark):
    from mimranalytics_core_spark import api

    rows = api.cypher(
        spark,
        SF_SMALL,
        "MATCH (c {id: $cid})-[:CUSTOMER_OF]->(n) RETURN c",
        params={"cid": "c:7"},
    ).collect()
    assert [r.c for r in rows] == ["c:7"]


def test_property_map_with_label_and_where_combine(spark):
    from mimranalytics_core_spark import api

    rows = api.cypher(
        spark,
        SF_SMALL,
        "MATCH (c:Customer {id: 'c:42'})-[:CUSTOMER_OF]->(n) "
        "WHERE n.name STARTS WITH 'NATION_' RETURN c, n.name AS nn",
    ).collect()
    assert len(rows) == 1 and rows[0].nn.startswith("NATION_")


# ---- reshaped cypher_expr_coalesce (r6 verdict task 1) ----


def test_cypher_expr_coalesce_linear_output(spark):
    """The declared op returns ONE row per customer (O(sf)), not one per
    (customer x co-national supplier) binding (~quadratic in sf)."""
    from mimranalytics_core_spark.registry import all_ops

    df = all_ops()["cypher_expr_coalesce"].fn(spark, SF_SMALL)
    n_cust = spark.read.parquet(f"{SF_SMALL}/customer.parquet").count()
    rows = df.collect()
    assert len(rows) == n_cust
    assert set(df.columns) == {"c", "first_sup", "n_sup"}
    # nations without suppliers coalesce; with suppliers carry the min name
    assert any(r.first_sup == "no-local-supplier" and r.n_sup == 0 for r in rows) or all(
        r.n_sup > 0 for r in rows
    )
    assert all((r.n_sup == 0) == (r.first_sup == "no-local-supplier") for r in rows)


# ---- general path variables (r6 verdict task 3) ----


def test_path_variable_functions(spark):
    from mimranalytics_core_spark import api

    rows = api.cypher(
        spark,
        SF_SMALL,
        "MATCH p = (c)-[:CUSTOMER_OF|NATION_OF*1..2]->(x) "
        "WHERE c.id = 'c:1' "
        "RETURN c, x, length(p) AS len, nodes(p) AS pn, relationships(p) AS pr "
        "ORDER BY len",
    ).collect()
    assert len(rows) == 2
    one, two = rows
    assert one.len == 1 and len(one.pn) == 2 and len(one.pr) == 1
    assert two.len == 2 and len(two.pn) == 3 and len(two.pr) == 2
    # the 2-hop path extends the 1-hop path: shared prefix
    assert two.pn[:2] == one.pn and two.pr[0] == one.pr[0]
    assert one.pn[0] == "c:1" and one.pr[0] == f"c:1>{one.pn[1]}"


def test_path_variable_nodes_undirected(spark):
    """nodes(p) must replay edge keys correctly when traversal is
    undirected (keys keep the ORIGINAL orientation)."""
    from mimranalytics_core_spark import api

    rows = api.cypher(
        spark,
        SF_SMALL,
        "MATCH p = (n)-[:NATION_OF]-(x) WHERE n.id = 'r:2' "
        "RETURN n, x, nodes(p) AS pn ORDER BY x",
    ).collect()
    assert rows, "region r:2 should reach its nations undirected"
    for r in rows:
        assert r.pn[0] == "r:2" and r.pn[1] == r.x


def test_path_variable_length_eq_hops(spark):
    from mimranalytics_core_spark import api

    rows = api.cypher(
        spark,
        SF_SMALL,
        "MATCH p = (c)-[:CUSTOMER_OF*1..1]->(n) "
        "RETURN c, length(p) AS len ORDER BY c LIMIT 10",
    ).collect()
    assert rows and all(r.len == 1 for r in rows)


def test_path_variable_guards(spark):
    from mimranalytics_core_spark.cypher import CypherSyntaxError, parse

    with pytest.raises(CypherSyntaxError, match="single-clause"):
        parse(
            "MATCH p = (a)-[:CUSTOMER_OF]->(b) MATCH (b)-[:NATION_OF]->(c) "
            "RETURN nodes(p) AS x"
        )
    with pytest.raises(CypherSyntaxError, match="not directly returnable"):
        parse("MATCH p = (a)-[:CUSTOMER_OF]->(b) RETURN p")
    with pytest.raises(CypherSyntaxError, match="first MATCH clause"):
        parse(
            "MATCH (a)-[:CUSTOMER_OF]->(b) "
            "OPTIONAL MATCH p = (b)-[:NATION_OF]->(c) RETURN a"
        )
    # round-14: a fixed single-hop multi-SEGMENT chain now BINDS a
    # row-local path (nodes(p) → array(a, b, c)); the guard moved to
    # var-length multi-segment chains, whose paths are not row-local
    p14 = parse(
        "MATCH p = (a)-[:CUSTOMER_OF]->(b)-[:NATION_OF]->(c) "
        "RETURN nodes(p) AS x"
    )
    assert p14["projection"]
    with pytest.raises(CypherSyntaxError, match="fixed single-hop"):
        parse(
            "MATCH p = (a)-[:CUSTOMER_OF*1..2]->(b)-[:NATION_OF]->(c) "
            "RETURN nodes(p) AS x"
        )
    # round-13: nodes(p) on shortestPath() RECONSTRUCTS the chain (the
    # predecessor-carrying BFS) — the restriction now applies only to
    # allShortestPaths (σ counts paths without enumerating them)
    p7 = parse("MATCH p = shortestPath((a)-[*..3]->(b)) RETURN nodes(p) AS x")
    assert p7["need_path_nodes"]
    with pytest.raises(CypherSyntaxError, match="not available"):
        parse(
            "MATCH p = allShortestPaths((a)-[*..3]->(b)) RETURN nodes(p) AS x"
        )
    with pytest.raises(CypherSyntaxError, match="collides"):
        parse("MATCH p = (p)-[:CUSTOMER_OF]->(b) RETURN b")


def test_shortest_path_length_still_works(spark):
    from mimranalytics_core_spark import api

    rows = api.cypher(
        spark,
        SF_SMALL,
        "MATCH p = shortestPath((c)-[*..3]->(r)) "
        "WHERE c.id = 'c:1' AND r.id STARTS WITH 'r:' "
        "RETURN c, r, length(p) AS len",
    ).collect()
    assert len(rows) == 1 and rows[0].len == 2


# ---- MP4 box metadata (r6 verdict task 4) ----


def test_mp4_pack_meta_roundtrip():
    from mimranalytics_core_spark.functions.multimodal import mp4_meta, mp4_pack

    m = mp4_meta(mp4_pack(12345, 320, 240, n_tracks=2, mdat=b"xyz"))
    assert m == {
        "brand": "isom",
        "timescale": 1000,
        "duration": 12345,
        "duration_ms": 12345,
        "n_tracks": 2,
        "width": 320,
        "height": 240,
    }


def test_mp4_meta_error_contracts():
    from mimranalytics_core_spark.functions.multimodal import mp4_meta, mp4_pack

    with pytest.raises(ValueError, match="truncated"):
        mp4_meta(b"1234567")
    with pytest.raises(ValueError, match="no ftyp"):
        mp4_meta(b"\x00\x00\x00\x08free")
    with pytest.raises(ValueError, match="invalid MP4 box size|truncated"):
        mp4_meta(mp4_pack(10, 1, 1)[:20])
    # ftyp alone (no moov) is a format gap, not silently-empty metadata
    from mimranalytics_core_spark.functions.multimodal import _box

    with pytest.raises(ValueError, match="no moov/mvhd"):
        mp4_meta(_box(b"ftyp", b"isom\x00\x00\x02\x00isom"))


def test_mp4_meta_largesize_and_eof_boxes():
    """size==1 -> 64-bit largesize; size==0 -> box extends to EOF."""
    import struct

    from mimranalytics_core_spark.functions.multimodal import mp4_meta, mp4_pack

    base = mp4_pack(500, 64, 32, n_tracks=1)
    # re-wrap the trailing mdat as a largesize box, then append an
    # eof-sized free box
    mdat_at = base.rfind(b"mdat") - 4
    head, mdat_payload = base[:mdat_at], base[mdat_at + 8 :]
    large_mdat = (
        struct.pack(">I", 1) + b"mdat" + struct.pack(">Q", 16 + len(mdat_payload)) + mdat_payload
    )
    eof_free = struct.pack(">I", 0) + b"free" + b"tail-bytes"
    m = mp4_meta(head + large_mdat + eof_free)
    assert (m["duration_ms"], m["width"], m["height"], m["n_tracks"]) == (500, 64, 32, 1)


def test_mp4_meta_mvhd_version1():
    """mvhd version 1 carries 64-bit creation/modification/duration."""
    import struct

    from mimranalytics_core_spark.functions.multimodal import _box, mp4_meta

    ftyp = _box(b"ftyp", b"mp42" + struct.pack(">I", 0) + b"mp42")
    mvhd = _box(
        b"mvhd",
        struct.pack(">B3x", 1)
        + struct.pack(">QQ", 0, 0)
        + struct.pack(">I", 90000)  # timescale
        + struct.pack(">Q", 450000)  # duration (5 s)
        + struct.pack(">i", 0x00010000)
        + struct.pack(">h", 0x0100)
        + b"\x00" * 10
        + struct.pack(">9i", 0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000)
        + b"\x00" * 24
        + struct.pack(">I", 2),
    )
    m = mp4_meta(ftyp + _box(b"moov", mvhd))
    assert m["brand"] == "mp42"
    assert m["timescale"] == 90000 and m["duration_ms"] == 5000
    assert m["n_tracks"] == 0 and m["width"] == 0


# ---- write-clause posture (r6 verdict task 6) ----


@pytest.mark.parametrize(
    "q,kw",
    [
        ("CREATE (n:Foo {name: 'x'})", "CREATE"),
        ("MERGE (n:Customer {id: 'c:1'})", "MERGE"),
        ("MATCH (n)-[:CUSTOMER_OF]->(m) SET n.name = 'x' RETURN n", "SET"),
        ("MATCH (n)-[:CUSTOMER_OF]->(m) DELETE n", "DELETE"),
        ("MATCH (n)-[:CUSTOMER_OF]->(m) DETACH DELETE n", "DETACH DELETE"),
        ("MATCH (n)-[:CUSTOMER_OF]->(m) REMOVE n.name RETURN n", "REMOVE"),
    ],
)
def test_write_clauses_rejected_with_posture_message(q, kw):
    from mimranalytics_core_spark.cypher import CypherSyntaxError, parse

    with pytest.raises(CypherSyntaxError) as ei:
        parse(q)
    msg = str(ei.value)
    assert "write clauses are out of scope" in msg and kw in msg
    assert "read-only" in msg


def test_write_keywords_inside_literals_still_parse(spark):
    from mimranalytics_core_spark import api

    assert (
        api.cypher(
            spark,
            SF_SMALL,
            "MATCH (a)-[:CUSTOMER_OF]->(b) "
            "WHERE a.name CONTAINS 'DELETE me MERGE SET' RETURN a",
        ).collect()
        == []
    )


# ---- round-7 scalar-function / IN-list batch ----


def test_in_list_membership(spark):
    from mimranalytics_core_spark import api

    rows = api.cypher(
        spark,
        SF_SMALL,
        "MATCH (c)-[:CUSTOMER_OF]->(n) WHERE c.id IN ['c:1', 'c:2'] "
        "RETURN c ORDER BY c",
    ).collect()
    assert [r.c for r in rows] == ["c:1", "c:2"]


def test_in_list_param_bound(spark):
    from mimranalytics_core_spark import api

    rows = api.cypher(
        spark,
        SF_SMALL,
        "MATCH (c)-[:CUSTOMER_OF]->(n) WHERE c.id IN $ids RETURN c ORDER BY c",
        params={"ids": ["c:3", "c:4", "c:5"]},
    ).collect()
    assert [r.c for r in rows] == ["c:3", "c:4", "c:5"]


def test_in_list_inside_string_literal_untouched(spark):
    from mimranalytics_core_spark import api

    rows = api.cypher(
        spark,
        SF_SMALL,
        "UNWIND ['IN [not a list]'] AS x MATCH (c)-[:CUSTOMER_OF]->(n) "
        "WHERE c.id = 'c:1' RETURN DISTINCT x",
    ).collect()
    assert [r.x for r in rows] == ["IN [not a list]"]


def test_size_tostring_tointeger(spark):
    from mimranalytics_core_spark import api

    rows = api.cypher(
        spark,
        SF_SMALL,
        "MATCH (c)-[:CUSTOMER_OF]->(n) "
        "WHERE toInteger(substring(c.id, 2)) < 3 "
        "RETURN c, toString(size(c.name)) AS ls ORDER BY c",
    ).collect()
    assert [r.c for r in rows] == ["c:0", "c:1", "c:2"]
    assert all(r.ls == "18" for r in rows)  # 'Customer#000000000'


def test_tofloat_cast(spark):
    from mimranalytics_core_spark import api

    rows = api.cypher(
        spark,
        SF_SMALL,
        "MATCH (c)-[:CUSTOMER_OF]->(n) WHERE c.id = 'c:1' "
        "RETURN c, toFloat(substring(c.id, 2)) / 2 AS half",
    ).collect()
    assert rows[0].half == 0.5


# ---- bare pattern predicates (round-7) ----


def test_bare_pattern_predicate_equals_exists(spark):
    from mimranalytics_core_spark import api

    bare = api.cypher(
        spark,
        SF_SMALL,
        "MATCH (c)-[:CUSTOMER_OF]->(n) "
        "WHERE NOT (s:Supplier)-[:SUPPLIER_OF]->(n) "
        "RETURN DISTINCT n ORDER BY n",
    ).collect()
    exists = api.cypher(
        spark,
        SF_SMALL,
        "MATCH (c)-[:CUSTOMER_OF]->(n) "
        "WHERE NOT EXISTS { (s:Supplier)-[:SUPPLIER_OF]->(n) } "
        "RETURN DISTINCT n ORDER BY n",
    ).collect()
    assert bare == exists and len(bare) > 0


def test_bare_pattern_predicate_positive_with_propmap(spark):
    from mimranalytics_core_spark import api

    rows = api.cypher(
        spark,
        SF_SMALL,
        "MATCH (c)-[:CUSTOMER_OF]->(n) "
        "WHERE (s {name: 'Supplier#000000001'})-[:SUPPLIER_OF]->(n) "
        "RETURN DISTINCT n",
    ).collect()
    assert len(rows) == 1


def test_bare_pattern_predicate_needs_anchor(spark):
    from mimranalytics_core_spark.cypher import CypherSyntaxError, parse

    with pytest.raises(CypherSyntaxError, match="share at least one variable"):
        parse(
            "MATCH (c)-[:CUSTOMER_OF]->(n) "
            "WHERE NOT (x)-[:SUPPLIER_OF]->(y) RETURN c"
        )


def test_property_map_inside_exists_body(spark):
    """Nested braces: a property map inside an EXISTS body must not
    terminate the brace span early (depth-aware masking, round-7)."""
    from mimranalytics_core_spark import api

    pos = api.cypher(
        spark,
        SF_SMALL,
        "MATCH (c)-[:CUSTOMER_OF]->(n) WHERE EXISTS "
        "{ (s {name: 'Supplier#000000001'})-[:SUPPLIER_OF]->(n) } "
        "RETURN DISTINCT n",
    ).collect()
    assert len(pos) == 1
    neg = api.cypher(
        spark,
        SF_SMALL,
        "MATCH (c)-[:CUSTOMER_OF]->(n) WHERE NOT EXISTS "
        "{ (s {name: 'NO_SUCH'})-[:SUPPLIER_OF]->(n) } "
        "RETURN DISTINCT n",
    ).collect()
    all_n = api.cypher(
        spark, SF_SMALL, "MATCH (c)-[:CUSTOMER_OF]->(n) RETURN DISTINCT n"
    ).count()
    assert len(neg) == all_n


def test_empty_in_list_folds_to_neo4j_semantics(spark):
    """x IN [] == false, NOT x IN [] == true (Neo4j) — the empty-$ids
    API path must not compile to SQL `IN ()` (a parse error)."""
    from mimranalytics_core_spark import api

    tot = api.cypher(
        spark, SF_SMALL, "MATCH (c)-[:CUSTOMER_OF]->(n) RETURN c"
    ).count()
    empty = api.cypher(
        spark,
        SF_SMALL,
        "MATCH (c)-[:CUSTOMER_OF]->(n) WHERE c.id IN $ids RETURN c",
        params={"ids": []},
    ).count()
    neg = api.cypher(
        spark,
        SF_SMALL,
        "MATCH (c)-[:CUSTOMER_OF]->(n) WHERE NOT c.id IN $ids RETURN c",
        params={"ids": []},
    ).count()
    assert empty == 0 and neg == tot > 0


# ---- ORDER BY non-returned property (round-7) ----


def test_order_by_nonreturned_property(spark):
    from mimranalytics_core_spark import api

    rows = api.cypher(
        spark,
        SF_SMALL,
        "MATCH (c)-[:CUSTOMER_OF]->(n) "
        "RETURN DISTINCT n.name AS nm ORDER BY nm DESC LIMIT 1",
    ).collect()
    top_name = rows[0].nm
    rows2 = api.cypher(
        spark,
        SF_SMALL,
        "MATCH (c)-[:CUSTOMER_OF]->(n) RETURN n ORDER BY n.name DESC, n LIMIT 2",
    ).collect()
    # hidden sort column must not leak into the output schema
    assert list(rows2[0].asDict().keys()) == ["n"]
    check = api.cypher(
        spark,
        SF_SMALL,
        "MATCH (c)-[:CUSTOMER_OF]->(n) WHERE n.name = $nm RETURN DISTINCT n",
        params={"nm": top_name},
    ).collect()
    assert rows2[0].n == check[0].n


def test_order_by_property_guards(spark):
    from mimranalytics_core_spark.cypher import CypherSyntaxError, parse

    with pytest.raises(CypherSyntaxError, match="not defined under aggregation"):
        parse("MATCH (c)-[:CUSTOMER_OF]->(n) RETURN n, count(*) AS x ORDER BY n.name")
    with pytest.raises(CypherSyntaxError, match="not defined under aggregation"):
        parse("MATCH (c)-[:CUSTOMER_OF]->(n) RETURN DISTINCT n ORDER BY n.name")


# ---- Neo4j aggregate set completion (round-7) ----


def test_percentile_and_stdev_aggregates(spark):
    from mimranalytics_core_spark import api

    rows = api.cypher(
        spark,
        SF_SMALL,
        "MATCH (c)-[r:CUSTOMER_OF]->(n) "
        "RETURN n, stDev(r.weight) AS sd, percentileCont(r.weight, 0.5) AS p50, "
        "percentileDisc(r.weight, 0.5) AS p50d ORDER BY n",
    ).collect()
    assert len(rows) == 25
    for r in rows:
        assert r.sd is None or r.sd >= 0
        # disc percentile must be an actual data value <= interpolated median
        assert r.p50d <= r.p50 or abs(r.p50d - r.p50) < 1e-9


def test_percentile_guards(spark):
    from mimranalytics_core_spark.cypher import CypherSyntaxError, parse

    with pytest.raises(CypherSyntaxError, match="second percentile"):
        parse("MATCH (c)-[r:CUSTOMER_OF]->(n) RETURN n, percentileCont(r.weight) AS p")
    with pytest.raises(CypherSyntaxError, match=r"in \[0, 1\]"):
        parse(
            "MATCH (c)-[r:CUSTOMER_OF]->(n) RETURN n, percentileCont(r.weight, 1.5) AS p"
        )
    with pytest.raises(CypherSyntaxError, match="takes one argument"):
        parse("MATCH (c)-[r:CUSTOMER_OF]->(n) RETURN n, stDev(r.weight, 0.5) AS p")
    with pytest.raises(CypherSyntaxError, match="numeric argument"):
        parse("MATCH (c)-[:CUSTOMER_OF]->(n) RETURN n, stDev(c.name) AS p")


def test_id_function_resolves_to_node_identity(spark):
    from mimranalytics_core_spark import api

    rows = api.cypher(
        spark,
        SF_SMALL,
        "MATCH (c)-[:CUSTOMER_OF]->(n) WHERE id(c) = 'c:1' "
        "RETURN id(c) AS cid, id(n) AS nid",
    ).collect()
    assert len(rows) == 1 and rows[0].cid == "c:1" and rows[0].nid.startswith("n:")


# ---- node-only MATCH (round-7, second half) ----


def test_node_match_label(spark):
    from mimranalytics_core_spark import api

    rows = api.cypher(
        spark, SF_SMALL, "MATCH (r:Region) RETURN r ORDER BY r"
    ).collect()
    assert [x.r for x in rows] == ["r:0", "r:1", "r:2", "r:3", "r:4"]


def test_node_match_where_and_props(spark):
    from mimranalytics_core_spark import api

    rows = api.cypher(
        spark,
        SF_SMALL,
        "MATCH (n:Nation) WHERE n.name STARTS WITH 'NATION_2' "
        "RETURN n, n.name AS name ORDER BY name",
    ).collect()
    assert all(x.name.startswith("NATION_2") for x in rows)
    assert len(rows) == 6  # NATION_2, NATION_20..24


def test_node_match_unlabeled_counts_all_tiers(spark):
    from mimranalytics_core_spark import api

    n = api.cypher(spark, SF_SMALL, "MATCH (n) RETURN count(*) AS c").collect()[0].c
    from mimranalytics_core_spark import catalog

    expected = catalog.hierarchy_nodes(spark, SF_SMALL).count()
    assert n == expected


def test_node_match_property_map(spark):
    from mimranalytics_core_spark import api

    rows = api.cypher(
        spark, SF_SMALL, "MATCH (n:Nation {name: 'NATION_3'}) RETURN n"
    ).collect()
    assert [x.n for x in rows] == ["n:3"]


def test_node_match_joins_follow_up_clause(spark):
    from mimranalytics_core_spark import api

    # node-only clause 0, relationship clause 1 joining on n
    a = api.cypher(
        spark,
        SF_SMALL,
        "MATCH (n:Nation) MATCH (c:Customer)-[:CUSTOMER_OF]->(n) "
        "RETURN count(*) AS c",
    ).collect()[0].c
    b = api.cypher(
        spark,
        SF_SMALL,
        "MATCH (c:Customer)-[:CUSTOMER_OF]->(n:Nation) RETURN count(*) AS c",
    ).collect()[0].c
    assert a == b > 0


def test_node_match_optional_from_node_frame(spark):
    from mimranalytics_core_spark import api

    rows = api.cypher(
        spark,
        SF_SMALL,
        "MATCH (r:Region) OPTIONAL MATCH (n:Nation)-[:NATION_OF]->(r) "
        "RETURN r, count(n) AS k ORDER BY r",
    ).collect()
    assert len(rows) == 5 and all(x.k == 5 for x in rows)


def test_node_match_trade_credit_nodes_from_edges(spark):
    from mimranalytics_core_spark import api

    n = (
        api.cypher(
            spark, SF_SMALL, "MATCH (a) RETURN count(*) AS c", graph="trade_credit"
        )
        .collect()[0]
        .c
    )
    from mimranalytics_core_spark import catalog

    e = catalog.trade_credit_edges(spark, SF_SMALL)
    expected = (
        e.selectExpr("src AS v").union(e.selectExpr("dst AS v")).distinct().count()
    )
    assert n == expected


def test_node_match_cartesian_surface(spark):
    from mimranalytics_core_spark import api
    from mimranalytics_core_spark.cypher import CypherSyntaxError

    # separate MATCH clauses still require a shared variable (declared
    # subset limit — the follow-up clause is the JOIN spelling)
    with pytest.raises(CypherSyntaxError, match="share a variable"):
        api.cypher(spark, SF_SMALL, "MATCH (a:Nation) MATCH (b:Region) RETURN a, b")
    # a COMMA multi-pattern is Neo4j's cartesian product — supported since
    # round-12 (r11 VERDICT missing #6); the WHERE equality re-plans it as
    # a hash join (see tests/test_round12_ops.py)
    n = api.cypher(
        spark, SF_SMALL, "MATCH (a:Nation), (b:Region) RETURN count(*) AS n"
    ).collect()[0].n
    assert n == 125


# ---- graph-introspection functions ----


def test_type_folds_to_declared_literal(spark):
    from mimranalytics_core_spark import api

    rows = api.cypher(
        spark,
        SF_SMALL,
        "MATCH (c:Customer)-[r:CUSTOMER_OF]->(n) "
        "RETURN type(r) AS rel, count(*) AS cnt",
    ).collect()
    assert len(rows) == 1 and rows[0].rel == "CUSTOMER_OF" and rows[0].cnt > 0


def test_labels_static_and_dynamic(spark):
    from mimranalytics_core_spark import api

    rows = api.cypher(
        spark,
        SF_SMALL,
        "MATCH (c:Customer)-[:CUSTOMER_OF]->(n) "
        "RETURN array_join(labels(c), '|') AS lc, "
        "array_join(labels(n), '|') AS ln, count(*) AS cnt",
    ).collect()
    assert len(rows) == 1
    assert rows[0].lc == "Customer" and rows[0].ln == "Nation"


def test_start_end_node_map_to_endpoints(spark):
    from mimranalytics_core_spark import api

    rows = api.cypher(
        spark,
        SF_SMALL,
        "MATCH (c)-[r:CUSTOMER_OF]->(n) "
        "RETURN startNode(r) AS s, endNode(r) AS e ORDER BY s LIMIT 1",
    ).collect()
    assert rows[0].s.startswith("c:") and rows[0].e.startswith("n:")


def test_introspection_guards(spark):
    from mimranalytics_core_spark import api
    from mimranalytics_core_spark.cypher import CypherSyntaxError

    with pytest.raises(CypherSyntaxError, match="single-hop"):
        api.cypher(
            spark,
            SF_SMALL,
            "MATCH (c)-[r:CUSTOMER_OF*1..2]->(n) RETURN type(r) AS t",
        )
    with pytest.raises(CypherSyntaxError, match="relationship variable"):
        api.cypher(
            spark, SF_SMALL, "MATCH (c)-[:CUSTOMER_OF]->(n) RETURN type(q) AS t"
        )
    with pytest.raises(CypherSyntaxError, match="undirected"):
        api.cypher(
            spark,
            SF_SMALL,
            "MATCH (c)-[r:CUSTOMER_OF]-(n) RETURN startNode(r) AS s",
        )
    with pytest.raises(CypherSyntaxError, match="labels"):
        api.cypher(
            spark, SF_SMALL, "MATCH (c)-[:CUSTOMER_OF]->(n) RETURN labels(zz) AS l"
        )


def test_type_in_where_constant_folds(spark):
    from mimranalytics_core_spark import api

    a = api.cypher(
        spark,
        SF_SMALL,
        "MATCH (c)-[r:CUSTOMER_OF]->(n) WHERE type(r) = 'CUSTOMER_OF' "
        "RETURN count(*) AS c",
    ).collect()[0].c
    b = api.cypher(
        spark,
        SF_SMALL,
        "MATCH (c)-[r:CUSTOMER_OF]->(n) WHERE type(r) = 'OTHER' "
        "RETURN count(*) AS c",
    ).collect()[0].c
    assert a > 0 and b == 0


# ---- UNWIND range() ----


def test_unwind_range_inclusive_stop(spark):
    from mimranalytics_core_spark import api

    rows = api.cypher(
        spark, SF_SMALL, "UNWIND range(1, 5) AS x RETURN collect(x) AS xs"
    ).collect()
    assert list(rows[0].xs) == [1, 2, 3, 4, 5]


def test_unwind_range_step_and_negative(spark):
    from mimranalytics_core_spark import api

    rows = api.cypher(
        spark, SF_SMALL, "UNWIND range(10, 1, -3) AS x RETURN collect(x) AS xs"
    ).collect()
    assert list(rows[0].xs) == [1, 4, 7, 10]  # collect() pins sorted order


def test_unwind_range_zero_step_rejected(spark):
    from mimranalytics_core_spark import api
    from mimranalytics_core_spark.cypher import CypherSyntaxError

    with pytest.raises(CypherSyntaxError, match="step"):
        api.cypher(spark, SF_SMALL, "UNWIND range(1, 5, 0) AS x RETURN x")


def test_unwind_range_crosses_match_frame(spark):
    from mimranalytics_core_spark import api

    rows = api.cypher(
        spark,
        SF_SMALL,
        "UNWIND range(1, 3) AS k MATCH (r:Region) RETURN count(*) AS c",
    ).collect()
    assert rows[0].c == 15  # 3 sequence values x 5 regions


def test_literal_return_items(spark):
    from mimranalytics_core_spark import api

    rows = api.cypher(
        spark,
        SF_SMALL,
        "MATCH (r:Region) RETURN 1 AS one, 'tag' AS tag, count(*) AS c",
    ).collect()
    assert (rows[0].one, rows[0].tag, rows[0].c) == (1, "tag", 5)


# ---- regex =~, exists(), keys(), properties() ----


def test_regex_full_match_semantics(spark):
    from mimranalytics_core_spark import api

    # Neo4j =~ is a FULL match: 'NATION_1' must not match NATION_10..19
    one = api.cypher(
        spark,
        SF_SMALL,
        "MATCH (n:Nation) WHERE n.name =~ 'NATION_1' RETURN count(*) AS c",
    ).collect()[0].c
    assert one == 1
    rng = api.cypher(
        spark,
        SF_SMALL,
        "MATCH (n:Nation) WHERE n.name =~ 'NATION_1[0-2]' RETURN count(*) AS c",
    ).collect()[0].c
    assert rng == 3


def test_regex_literal_stays_data(spark):
    from mimranalytics_core_spark import api

    rows = api.cypher(
        spark, SF_SMALL, "UNWIND ['a =~ b', 'x'] AS s RETURN collect(s) AS xs"
    ).collect()
    assert list(rows[0].xs) == ["a =~ b", "x"]


def test_regex_nonliteral_pattern_rejected(spark):
    from mimranalytics_core_spark import api
    from mimranalytics_core_spark.cypher import CypherSyntaxError

    with pytest.raises(CypherSyntaxError, match="string literal"):
        api.cypher(
            spark, SF_SMALL, "MATCH (n:Nation) WHERE n.name =~ n.name RETURN n"
        )


def test_exists_property_function(spark):
    from mimranalytics_core_spark import api

    c = api.cypher(
        spark,
        SF_SMALL,
        "MATCH (n:Nation) WHERE exists(n.name) RETURN count(*) AS c",
    ).collect()[0].c
    assert c == 25


def test_keys_and_properties(spark):
    from mimranalytics_core_spark import api

    rows = api.cypher(
        spark,
        SF_SMALL,
        "MATCH (n:Nation {name: 'NATION_3'}) "
        "RETURN array_join(keys(n), ',') AS ks, properties(n) AS p",
    ).collect()
    # round-11 widened the per-label sets with the natural FK columns
    assert rows[0].ks == "id,label,name,nationkey,regionkey"
    assert rows[0].p.asDict() == {
        "id": "n:3",
        "label": "nation",
        "name": "NATION_3",
        "nationkey": 3,
        "regionkey": rows[0].p.regionkey,
    }


def test_timeline_metrics_matches_per_year_snapshot(spark):
    """The one-pass exploded series must equal the naive per-year as-of
    snapshot count (the Time-Slider backend it replaces)."""
    from pyspark.sql import functions as F

    from mimranalytics_core_spark.operators.graph import graph_timeline_metrics
    from mimranalytics_core_spark.operators._base import t

    out = {
        (r.y, r.rel_type): (r.n_active, r.n_new, r.n_expired)
        for r in graph_timeline_metrics(spark, SF_SMALL).collect()
    }
    o = t(spark, SF_SMALL, "orders")
    li = t(spark, SF_SMALL, "lineitem")
    spans = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_custkey", "l_suppkey")
        .agg(
            F.year(F.min("o_orderdate")).alias("yf"),
            F.year(F.max("o_orderdate")).alias("yt"),
        )
    )
    for y in (1996, 1997):  # the synthetic order dates span 1995-1998
        naive = spans.filter((F.col("yf") <= y) & (F.col("yt") >= y)).count()
        assert out[(y, "owns_stake")][0] == naive
    # new+expired bookkeeping: every edge is new exactly once in-window
    # iff it starts in-window
    started = spans.filter(F.col("yf").between(1992, 1998)).count()
    assert sum(v[1] for (yy, rt), v in out.items() if rt == "owns_stake") == started


# ---- round-7 third leg: the list-expression / scalar-query surface ----


def _cy(spark, q, **kw):
    from mimranalytics_core_spark import api

    return api.cypher(spark, SF_SMALL, q, **kw)


def test_scalar_return_no_match(spark):
    """Neo4j evaluates a MATCH-less RETURN over one implicit row."""
    r = _cy(spark, "RETURN 2 + 3 AS s, toUpper('ab') AS u").collect()
    assert len(r) == 1 and r[0].s == 5 and r[0].u == "AB"


def test_head_last_tail_null_safe(spark):
    r = _cy(
        spark,
        "WITH [10, 20, 30] AS xs "
        "RETURN head(xs) AS h, last(xs) AS l, tail(xs)[0] AS t0, "
        "size(tail(xs)) AS tn",
    ).collect()[0]
    assert (r.h, r.l, r.t0, r.tn) == (10, 30, 20, 2)


def test_indexing_is_zero_based_and_negative(spark):
    r = _cy(
        spark,
        "WITH [10, 20, 30] AS xs RETURN xs[0] AS a, xs[1+1] AS b, xs[-1] AS c, xs[9] AS d",
    ).collect()[0]
    assert (r.a, r.b, r.c) == (10, 30, 30) and r.d is None


def test_quantifiers_match_python(spark):
    r = _cy(
        spark,
        "WITH [1, 2, 3] AS xs RETURN "
        "any(x IN xs WHERE x > 2) AS q_any, "
        "all(x IN xs WHERE x > 2) AS q_all, "
        "none(x IN xs WHERE x > 5) AS q_none, "
        "single(x IN xs WHERE x = 2) AS q_single, "
        "single(x IN xs WHERE x > 1) AS q_multi",
    ).collect()[0]
    assert (r.q_any, r.q_all, r.q_none, r.q_single, r.q_multi) == (
        True, False, True, True, False,
    )


def test_reduce_fold(spark):
    r = _cy(
        spark,
        "WITH [1, 2, 3, 4] AS xs RETURN reduce(s = 100, x IN xs | s + x) AS tot",
    ).collect()[0]
    assert r.tot == 110


def test_list_comprehension_filter_map(spark):
    r = _cy(
        spark,
        "RETURN [x IN range(1, 10) WHERE x % 3 = 0 | x * x] AS sq, "
        "[x IN range(1, 4)] AS plain, [x IN range(1, 4) | x + 1] AS mapped",
    ).collect()[0]
    assert list(r.sq) == [9, 36, 81]
    assert list(r.plain) == [1, 2, 3, 4]
    assert list(r.mapped) == [2, 3, 4, 5]


def test_unwind_comprehension_and_nested(spark):
    rows = _cy(
        spark, "UNWIND [x IN range(1, 6) WHERE x > 4 | x * 10] AS v RETURN v"
    ).collect()
    assert sorted(r.v for r in rows) == [50, 60]
    rows = _cy(
        spark,
        "UNWIND [[1, 2], [3]] AS xs RETURN reduce(s = 0, x IN xs | s + x) AS t",
    ).collect()
    assert sorted(r.t for r in rows) == [3, 3]


def test_substring_is_zero_based(spark):
    """Cypher substring(s, start[, len]) indexes from 0 — the engine
    shifts to Spark's 1-based substring uniformly (RETURN and WHERE)."""
    r = _cy(spark, "RETURN substring('abcdef', 2, 3) AS m").collect()[0]
    assert r.m == "cde"
    rows = _cy(
        spark,
        "MATCH (c:Customer) WHERE toInteger(substring(c.id, 2)) = 1 "
        "RETURN c.name AS nm",
    ).collect()
    assert len(rows) == 1 and rows[0].nm.endswith("1")


def test_split_literal_delimiter(spark):
    """Neo4j split() is literal; Spark's is regex — '.' must not match-all."""
    r = _cy(spark, "RETURN size(split('a.b.c', '.')) AS n").collect()[0]
    assert r.n == 3


def test_string_concat_plus(spark):
    r = _cy(spark, "MATCH (n:Nation) RETURN n.name + '!' AS x ORDER BY x LIMIT 1").collect()
    assert r[0].x == "NATION_0!"


def test_simple_case_form(spark):
    r = _cy(
        spark,
        "RETURN CASE 'b' WHEN 'a' THEN 1 WHEN 'b' THEN 2 ELSE 0 END AS v",
    ).collect()[0]
    assert r.v == 2


def test_numeric_property_where_and_agg(spark):
    rows = _cy(
        spark,
        "MATCH (c:Customer) WHERE c.acctbal > 0 AND c.acctbal < 100000 "
        "RETURN count(*) AS n",
    ).collect()
    assert rows[0].n > 0
    rows = _cy(
        spark,
        "MATCH (c:Customer {mktsegment: 'BUILDING'}) RETURN count(*) AS n",
    ).collect()
    assert rows[0].n > 0
    # absent-per-label property reads as null (Neo4j semantics)
    rows = _cy(
        spark, "MATCH (n:Nation) WHERE n.acctbal IS NOT NULL RETURN count(*) AS n"
    ).collect()
    assert rows[0].n == 0


def test_with_order_by_property_top_k(spark):
    from mimranalytics_core_spark.operators._base import tables

    tb = tables(spark, SF_SMALL)
    import pyspark.sql.functions as F

    exp = [
        r.c_name
        for r in tb["customer"]
        .orderBy(F.col("c_acctbal").desc(), F.col("c_name").asc())
        .limit(3)
        .collect()
    ]
    rows = _cy(
        spark,
        "MATCH (c:Customer) WITH c ORDER BY c.acctbal DESC, c.name ASC LIMIT 3 "
        "RETURN c.name AS nm ORDER BY nm",
    ).collect()
    assert sorted(r.nm for r in rows) == sorted(exp)
    # hidden sort column must not leak into the output schema
    df = _cy(
        spark,
        "MATCH (c:Customer) WITH c ORDER BY c.acctbal DESC, c.name ASC LIMIT 3 "
        "RETURN c.name AS nm ORDER BY nm",
    )
    assert df.columns == ["nm"]


def test_count_subquery_includes_zero_rows(spark):
    """COUNT {} reads 0 for zero-match bindings — a plain MATCH+count drops
    them; also: the count column groups correctly among other items."""
    rows = _cy(
        spark,
        "MATCH (n:Nation) RETURN n.name AS nm, "
        "COUNT { MATCH (c:Customer)-[:CUSTOMER_OF]->(n) } AS deg ORDER BY nm",
    ).collect()
    assert len(rows) == 25  # every nation appears, even customer-less ones
    exp = {
        r.nm: r.deg
        for r in _cy(
            spark,
            "MATCH (c:Customer)-[:CUSTOMER_OF]->(n:Nation) "
            "RETURN n.name AS nm, count(*) AS deg",
        ).collect()
    }
    for r in rows:
        assert r.deg == exp.get(r.nm, 0)


def test_count_subquery_requires_anchor(spark):
    from mimranalytics_core_spark.cypher import CypherSyntaxError

    with pytest.raises(CypherSyntaxError, match="share at least one variable"):
        _cy(
            spark,
            "MATCH (n:Nation) RETURN n.name AS nm, "
            "COUNT { MATCH (a)-[:OWNS]->(b) } AS c",
        )


def test_label_predicate_boolean_composition(spark):
    n_or = _cy(
        spark, "MATCH (x) WHERE x:Customer OR x:Supplier RETURN count(*) AS c"
    ).collect()[0].c
    n_c = _cy(spark, "MATCH (x:Customer) RETURN count(*) AS c").collect()[0].c
    n_s = _cy(spark, "MATCH (x:Supplier) RETURN count(*) AS c").collect()[0].c
    assert n_or == n_c + n_s
    n_not = _cy(spark, "MATCH (x) WHERE NOT x:Region RETURN count(*) AS c").collect()[0].c
    n_all = _cy(spark, "MATCH (x) RETURN count(*) AS c").collect()[0].c
    assert n_not == n_all - 5


def test_label_predicate_unknown_label_fails(spark):
    from mimranalytics_core_spark.cypher import CypherSyntaxError

    with pytest.raises(CypherSyntaxError, match="unknown label"):
        _cy(spark, "MATCH (x) WHERE x:Bogus RETURN count(*) AS c")


def test_list_expression_differential_vs_python(spark):
    """Differential test of the list-expression rewriter: ~40 seeded
    random expressions over literal int lists, evaluated in ONE scalar
    RETURN and compared against direct Python evaluation."""
    import random as _r

    rng = _r.Random(2026)

    def gen_list():
        return [rng.randint(-5, 9) for _ in range(rng.randint(1, 5))]

    cases = []  # (cypher_expr, expected)
    for _ in range(40):
        xs = gen_list()
        lit = "[" + ", ".join(map(str, xs)) + "]"
        kind = rng.randrange(9)
        if kind == 0:
            cases.append((f"head({lit})", xs[0]))
        elif kind == 1:
            cases.append((f"last({lit})", xs[-1]))
        elif kind == 2:
            cases.append((f"size(tail({lit}))", len(xs) - 1))
        elif kind == 3:
            i = rng.randrange(-len(xs), len(xs))
            cases.append((f"{lit}[{i}]", xs[i]))
        elif kind == 4:
            t = rng.randint(-2, 6)
            cases.append((f"any(x IN {lit} WHERE x > {t})", any(x > t for x in xs)))
        elif kind == 5:
            t = rng.randint(-2, 6)
            cases.append((f"all(x IN {lit} WHERE x > {t})", all(x > t for x in xs)))
        elif kind == 6:
            t = rng.randint(-2, 6)
            cases.append(
                (f"single(x IN {lit} WHERE x = {t})", sum(x == t for x in xs) == 1)
            )
        elif kind == 7:
            init = rng.randint(0, 5)
            cases.append(
                (f"reduce(s = {init}, x IN {lit} | s + x)", init + sum(xs))
            )
        else:
            t = rng.randint(-2, 6)
            m = rng.randint(2, 4)
            exp = [x * m for x in xs if x > t]
            cases.append(
                (f"size([x IN {lit} WHERE x > {t} | x * {m}])", len(exp))
            )
    q = "RETURN " + ", ".join(f"{e} AS c{i}" for i, (e, _) in enumerate(cases))
    row = _cy(spark, q).collect()[0]
    for i, (expr, exp) in enumerate(cases):
        got = row[f"c{i}"]
        assert got == exp, (expr, got, exp)


def test_size_and_concat_on_known_list_variables(spark):
    """collect() outputs and list-literal WITH items are tracked as
    list-typed through pipeline scopes, so polymorphic size() and `+`
    concat resolve to the array forms on plain variables too."""
    r = _cy(spark, "WITH [1, 2] AS a, [3] AS b RETURN size(a + b) AS n").collect()[0]
    assert r.n == 3
    r = _cy(spark, "WITH [1, 2, 3] AS xs WITH xs AS ys RETURN size(ys) AS n").collect()[0]
    assert r.n == 3
    rows = _cy(
        spark,
        "MATCH (c:Customer)-[:CUSTOMER_OF]->(n:Nation) "
        "WITH n.name AS nm, collect(c.name) AS ms "
        "RETURN nm, size(ms) AS k ORDER BY nm",
    ).collect()
    exp = {
        x.nm: x.k
        for x in _cy(
            spark,
            "MATCH (c:Customer)-[:CUSTOMER_OF]->(n:Nation) "
            "RETURN n.name AS nm, count(*) AS k",
        ).collect()
    }
    assert {x.nm: x.k for x in rows} == exp
    # a plain string property under size() still means string length
    r = _cy(spark, "MATCH (n:Nation) RETURN size(n.name) AS ln ORDER BY ln LIMIT 1").collect()[0]
    assert r.ln == 8  # 'NATION_0'


def test_quantifiers_in_where_positions(spark):
    """List lambdas work in every WHERE position: trailing WHERE, the
    stage WHERE after WITH, and comprehension-size predicates — the
    lambda-body mask keeps inner WHERE/| keywords out of the clause
    boundary scanners."""
    rows = _cy(
        spark,
        "UNWIND [1, 2, 3, 4] AS k MATCH (n:Nation) "
        "WHERE any(x IN [2, 4] WHERE x = k) "
        "RETURN k, count(*) AS c ORDER BY k",
    ).collect()
    assert [(r.k, r.c) for r in rows] == [(2, 25), (4, 25)]
    n_have9 = _cy(
        spark,
        "MATCH (c:Customer)-[:CUSTOMER_OF]->(n:Nation) "
        "WITH n.name AS nm, collect(c.name) AS ms "
        "WHERE any(x IN ms WHERE x CONTAINS '9') RETURN count(*) AS c",
    ).collect()[0].c
    exp = _cy(
        spark,
        "MATCH (c:Customer)-[:CUSTOMER_OF]->(n:Nation) "
        "WHERE c.name CONTAINS '9' RETURN count(DISTINCT n.name) AS c",
    ).collect()[0].c
    assert n_have9 == exp
    r = _cy(
        spark,
        "MATCH (n:Nation) WHERE size([x IN [1, 2, 3] WHERE x > 1]) = 2 "
        "RETURN count(*) AS c",
    ).collect()[0]
    assert r.c == 25


def test_rewriter_edge_cases(spark):
    """Adversarial corners of the list-expression rewriter: nested
    quantifiers, indexing inside CASE bodies, chained indexing, keyword
    text inside string literals, fractional reduce inits."""
    r = _cy(
        spark,
        "RETURN any(x IN [1, 2] WHERE any(y IN [2, 3] WHERE y = x)) AS a, "
        "[[1, 2], [3, 4]][1][0] AS b, "
        "size(split('a WHERE b AND c', ' ')) AS c, "
        "[-1, 2][0] AS d, "
        "reduce(s = 0.5, x IN [1.5, 2.0] | s + x) AS e",
    ).collect()[0]
    assert (r.a, r.b, r.c, r.d, r.e) == (True, 3, 5, -1, 4.0)
    r = _cy(
        spark,
        "WITH [5, 6] AS xs RETURN CASE WHEN xs[0] = 5 THEN 'five' ELSE 'no' END AS t",
    ).collect()[0]
    assert r.t == "five"


def test_return_star_expansion(spark):
    df = _cy(
        spark,
        "MATCH (c:Customer)-[:CUSTOMER_OF]->(n:Nation) RETURN * ORDER BY c LIMIT 2",
    )
    assert df.columns == ["c", "n"]
    df = _cy(
        spark,
        "UNWIND [1, 2] AS k MATCH (n:Nation) RETURN *, count(*) AS cnt "
        "ORDER BY k, n LIMIT 3",
    )
    assert df.columns == ["n", "k", "cnt"]
    # star after a stage sees stage outputs + fresh stage vars
    df = _cy(
        spark,
        "MATCH (c:Customer)-[:CUSTOMER_OF]->(n) WITH n, count(*) AS k "
        "MATCH (s:Supplier)-[:SUPPLIER_OF]->(n) RETURN * ORDER BY n, s LIMIT 3",
    )
    assert df.columns == ["n", "k", "s"]


def test_stage_unwind_round_trip_and_empty(spark):
    """UNWIND after WITH: collect -> UNWIND is lossless; an empty list
    yields zero rows (Cypher semantics = explode's)."""
    n = _cy(
        spark,
        "MATCH (c:Customer)-[:CUSTOMER_OF]->(n:Nation) "
        "WITH n.name AS nm, collect(c.name) AS ms UNWIND ms AS m "
        "RETURN count(*) AS c",
    ).collect()[0].c
    total = _cy(spark, "MATCH (c:Customer) RETURN count(*) AS c").collect()[0].c
    assert n == total
    rows = _cy(
        spark,
        "MATCH (n:Nation) WITH n.name AS nm, "
        "[x IN [1, 2] WHERE x > 5] AS empty UNWIND empty AS e "
        "RETURN count(*) AS c",
    ).collect()
    assert rows[0].c == 0
    # chained: UNWIND output feeds the next stage's aggregate
    r = _cy(
        spark,
        "MATCH (c:Customer)-[:CUSTOMER_OF]->(n:Nation) "
        "WITH n.name AS nm, collect(c.name) AS ms UNWIND ms AS m "
        "WITH nm, count(*) AS k RETURN min(k) AS mn",
    ).collect()[0]
    assert r.mn >= 1


def test_order_by_expression_hidden_column(spark):
    df = _cy(
        spark,
        "MATCH (n:Nation) RETURN n.name AS nm "
        "ORDER BY size(n.name) DESC, substring(n.name, 7, 2) DESC LIMIT 3",
    )
    assert df.columns == ["nm"]  # hidden sort column dropped
    assert [r.nm for r in df.collect()] == ["NATION_24", "NATION_23", "NATION_22"]
    from mimranalytics_core_spark.cypher import CypherSyntaxError

    with pytest.raises(CypherSyntaxError, match="unsupported ORDER BY key"):
        _cy(
            spark,
            "MATCH (c:Customer)-[:CUSTOMER_OF]->(n) "
            "RETURN n, count(*) AS k ORDER BY size(n.name)",
        )


def test_exists_item_matches_distinct_match(spark):
    exp = {
        r.nm
        for r in _cy(
            spark,
            "MATCH (s:Supplier)-[:SUPPLIER_OF]->(n) RETURN DISTINCT n.name AS nm",
        ).collect()
    }
    rows = _cy(
        spark,
        "MATCH (n:Nation) RETURN n.name AS nm, "
        "EXISTS { (s:Supplier)-[:SUPPLIER_OF]->(n) } AS f ORDER BY nm",
    ).collect()
    assert len(rows) == 25  # existence never multiplies or drops rows
    assert {r.nm for r in rows if r.f} == exp
    neg = _cy(
        spark,
        "MATCH (n:Nation) RETURN n.name AS nm, "
        "NOT EXISTS { (s:Supplier)-[:SUPPLIER_OF]->(n) } AS f ORDER BY nm",
    ).collect()
    assert {r.nm for r in neg if r.f} == {r.nm for r in rows if not r.f}


def test_clause_where_quantifier_scope(spark):
    """Lambda variables (trailing __) are scope-free in a per-clause
    WHERE; genuine out-of-clause references still fail."""
    r = _cy(
        spark,
        "MATCH (c:Customer)-[:CUSTOMER_OF]->(n) "
        "WHERE any(x IN [5000.0] WHERE c.acctbal > x) "
        "MATCH (s:Supplier)-[:SUPPLIER_OF]->(n) RETURN count(*) AS c",
    ).collect()[0]
    exp = _cy(
        spark,
        "MATCH (c:Customer)-[:CUSTOMER_OF]->(n) WHERE c.acctbal > 5000.0 "
        "MATCH (s:Supplier)-[:SUPPLIER_OF]->(n) RETURN count(*) AS c",
    ).collect()[0]
    assert r.c == exp.c
    from mimranalytics_core_spark.cypher import CypherSyntaxError

    with pytest.raises(CypherSyntaxError, match="pattern variables"):
        _cy(
            spark,
            "MATCH (c:Customer)-[:CUSTOMER_OF]->(n) WHERE s.name = 'x' "
            "MATCH (s:Supplier)-[:SUPPLIER_OF]->(n) RETURN count(*) AS c",
        )

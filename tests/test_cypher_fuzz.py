"""Property-based fuzz for the Cypher front-end: every grammar-generated
query must parse and plan; every parse failure anywhere must be a
CypherSyntaxError (never an IndexError/KeyError/regex crash)."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from mimranalytics_core_spark.cypher import CypherSyntaxError, parse

_VARS = st.sampled_from(["a", "b", "c", "n", "x", "y"])
# PLACED routes a query onto the business graph (round-12 fact tiers) —
# known everywhere, matches empty on the entity-only hierarchy
_TYPES = st.sampled_from(["CUSTOMER_OF", "NATION_OF", "SUPPLIER_OF", "PLACED"])
_LABELS = st.sampled_from(
    ["Customer", "Supplier", "Nation", "Region", "Order", "Part"]
)


@st.composite
def _node(draw, var):
    label = f":{draw(_LABELS)}" if draw(st.booleans()) else ""
    # round-7: inline property maps are part of the pattern grammar
    pmap = ""
    if draw(st.integers(0, 3)) == 0:
        pmap = " " + draw(
            st.sampled_from(["{id: 'c:1'}", "{name: 'NATION_3'}", "{}",
                             "{id: 'c:1', name: 'X Y'}",
                             # round-12: typed natural-key literals
                             "{custkey: 1}", "{nationkey: 3}",
                             "{orderstatus: 'O'}", "{acctbal: 100.5}",
                             # literals holding brackets, separators and
                             # clause keywords stay data to every scanner
                             "{name: 'a (b) [c] {d}, e | f'}",
                             "{name: 'x AND y WHERE z RETURN w'}"])
        )
    return f"({var}{label}{pmap})"


@st.composite
def _rel(draw, rvar: str = ""):
    types = draw(st.lists(_TYPES, min_size=0, max_size=2, unique=True))
    tpart = (":" + "|".join(types)) if types else ""
    # round-10: {m,n}/{n} is the Neo4j 5 quantified-relationship spelling
    # of *m..n — desugared by cypher._rewrite_qpp before parsing
    star, quant = draw(
        st.sampled_from(
            [("", ""), ("*", ""), ("*2", ""), ("*1..3", ""), ("", "{2}"), ("", "{1,3}")]
        )
    )
    body = f"[{rvar}{tpart}{star}]"
    arrow = draw(st.sampled_from(["out", "in", "both"]))
    if arrow == "in":
        return f"<-{body}-{quant}"
    if arrow == "both":
        return f"-{body}-{quant}"
    return f"-{body}->{quant}"


@st.composite
def _query(draw):
    # nvars == 1 → node-only MATCH (round-7): `MATCH (n[:L] [{..}])`
    nvars = draw(st.integers(1, 4))
    vs = draw(st.lists(_VARS, min_size=nvars, max_size=nvars, unique=True))
    shortest = nvars == 2 and draw(st.booleans())
    # single-segment patterns may bind a relationship variable
    rvar = "r" if nvars == 2 and not shortest and draw(st.booleans()) else ""
    # round-14: multi-segment path variable — all segments forced fixed
    # single-hop directed (the row-local chain subset)
    chainpath = (
        nvars >= 3
        and not shortest
        and not rvar
        and draw(st.integers(0, 2)) == 0
    )
    # round-14: leading OPTIONAL MATCH (null-extends from a unit frame);
    # EXISTS conjuncts anchored on its fresh vars are gated off below
    leadopt = (
        not shortest
        and not chainpath
        and draw(st.integers(0, 4)) == 0
    )
    # a "simple" rvar rel (single-hop, one type, directed) unlocks the
    # round-7 introspection functions type()/startNode()/endNode()
    simple_rel = ""
    if rvar and draw(st.booleans()):
        arrow = draw(st.sampled_from(["out", "in"]))
        body = f"[{rvar}:{draw(_TYPES)}]"
        simple_rel = f"<-{body}-" if arrow == "in" else f"-{body}->"
    pat = draw(_node(vs[0]))
    rel_str = ""
    for idx, v in enumerate(vs[1:], start=1):
        # round-11: anonymous / label-only terminal nodes — the chain's
        # LAST node may drop its variable when nothing downstream
        # references it (items only ever use vs[:2])
        anon = (
            idx == nvars - 1
            and nvars >= 3
            and not rvar
            and not shortest
            and draw(st.integers(0, 2)) == 0
        )
        if chainpath:
            # fixed single-hop typed segment, either written direction —
            # the row-local chain the path variable may bind (round-14)
            arrow_c = draw(st.sampled_from(["out", "in"]))
            body_c = f"[:{draw(_TYPES)}]"
            rel_c = f"<-{body_c}-" if arrow_c == "in" else f"-{body_c}->"
            pat += rel_c + draw(_node("" if anon else v))
            continue
        rel_str = simple_rel or draw(_rel(rvar))
        pat += rel_str + draw(_node("" if anon else v))
    # r.weight-scalar items need a SINGLE-HOP rvar segment: a var-length
    # relationship (`[r*..]` / quantified `{m,n}`) binds a LIST in Neo4j and
    # the engine now rejects scalar property access on it with a targeted
    # error (round-15) — the grammar must not pair the two.
    rvar_scalar = bool(rvar) and "*" not in rel_str and "{" not in rel_str
    comma = False
    if not shortest and not rvar and not chainpath and draw(st.integers(0, 3)) == 0:
        # comma-separated multi-pattern sharing the first variable
        extra = draw(st.sampled_from(["q", "z"]))
        pat += f", ({extra})" + draw(_rel()) + f"({vs[0]})"
        comma = True
    # round-7: general path variable on a single-chain single-segment
    # first clause — p2 = (a)-[...]->(b)
    pathvar = (
        not shortest
        and not comma
        and not leadopt  # a path variable cannot bind an OPTIONAL clause
        and nvars == 2
        and draw(st.integers(0, 2)) == 0
    )
    unwound = False
    unwind_numeric = True
    if shortest:
        q = f"MATCH p = shortestPath({pat})"
    elif chainpath:
        # round-14: multi-segment fixed-hop chain binding a path variable
        q = f"MATCH p3 = {pat}"
    elif pathvar:
        q = f"MATCH p2 = {pat}"
    elif leadopt:
        q = f"OPTIONAL MATCH {pat}"
    else:
        q = f"MATCH {pat}"
        if draw(st.integers(0, 3)) == 0:  # leading UNWIND (list or range)
            lst = draw(
                st.sampled_from(
                    [
                        "[1, 2, 3]",
                        "['c:1', 'c:2']",
                        "[0.5, 1.5]",
                        "range(1, 5)",       # round-7: lazy sequence
                        "range(9, 0, -3)",
                    ]
                )
            )
            q = f"UNWIND {lst} AS k " + q
            unwound = True
            unwind_numeric = lst != "['c:1', 'c:2']"
    if draw(st.booleans()):
        wpred = draw(
            st.sampled_from(
                [
                    "{v}.id STARTS WITH 'c:'",
                    "{v}.id IN ['c:1', 'c:2']",
                    "id({v}) = 'c:1'",
                    "toInteger(substring({v}.id, 2)) < 50",
                    # round-11: boolean XOR (precedence-aware <> rewrite)
                    "{v}.id STARTS WITH 'c:' XOR {v}.id ENDS WITH '1'",
                    "{v}.id STARTS WITH 'c:' XOR "
                    "({v}.id CONTAINS '1' AND {v}.id CONTAINS '2')",
                    "{v}.id CONTAINS '(x], {{y}} | z' "
                    "OR {v}.id = 'a AND b WHERE c RETURN d'",
                ]
            )
        ).format(v=vs[0])
        q += f" WHERE {wpred}"
        if not shortest and not leadopt and draw(st.integers(0, 2)) == 0:
            neg = "NOT " if draw(st.booleans()) else ""
            # round-11: anonymous / label-only nodes in EXISTS bodies
            e9n = draw(
                st.sampled_from(
                    ["(e9)", "(e9 {id: 's:1'})", "()", "(:Customer)"]
                )
            )
            q += f" AND {neg}EXISTS {{ {e9n}" + draw(_rel()) + f"({vs[0]}) }}"
    elif not shortest and not leadopt and draw(st.integers(0, 3)) == 0:
        e9n = draw(st.sampled_from(["(e9)", "()", "(:Supplier)"]))
        q += f" WHERE EXISTS {{ {e9n}" + draw(_rel()) + f"({vs[0]}) }}"
    # optionally pipe through WITH, then optionally MATCH again (stage 2)
    with_match = not shortest and draw(st.booleans())
    if with_match:
        q += f" WITH {vs[0]} AS piped, count(*) AS n"
        if draw(st.integers(0, 2)) == 0:  # stage-level top-k / paging
            # round-11: the aggregate-expression spelling of the same key
            nkey = "count(*)" if draw(st.integers(0, 2)) == 0 else "n"
            q += f" ORDER BY {nkey} DESC, piped ASC"
            if draw(st.booleans()):
                q += f" SKIP {draw(st.integers(0, 3))}"
            q += f" LIMIT {draw(st.integers(1, 20))}"
        if draw(st.booleans()):
            q += " WHERE n >= 2"
            # round-10: EXISTS/COUNT subquery conjuncts in the stage WHERE
            if not leadopt and draw(st.integers(0, 2)) == 0:
                q += draw(
                    st.sampled_from(
                        [
                            " AND EXISTS { (e10:Customer)-[:CUSTOMER_OF]->(piped) }",
                            " AND NOT EXISTS { (e10:Supplier)-[:SUPPLIER_OF]->(piped) }",
                            " AND COUNT { (e10:Customer)-[:CUSTOMER_OF]->(piped) } >= 1",
                        ]
                    )
                )
        if draw(st.integers(0, 2)) == 0:  # round-7: stage UNWIND
            q += " UNWIND [1, 2] AS uw"
        stage2 = draw(st.booleans())
        items = ["piped", "n"]
        if stage2:
            fresh = draw(st.sampled_from(["u", "v", "w"]))
            if draw(st.integers(0, 2)) == 0:
                # round-14: prop-map-only correlation after WITH — the
                # conjunct is the clause's equi-join key (no shared var)
                q += f" MATCH ({fresh}:Order {{custkey: piped.custkey}})"
            else:
                opt = "OPTIONAL " if draw(st.booleans()) else ""
                q += f" {opt}MATCH ({fresh})" + draw(_rel()) + "(piped)"
            if draw(st.booleans()):  # chain a second pipe
                q += " WITH piped, count(*) AS n2"
                if draw(st.booleans()):
                    q += " WHERE n2 >= 1"
                items = ["piped", "n2"]
    else:
        # alias must not collide with a pattern variable: duplicate output
        # names are rejected at parse time (round-10 divergence check)
        items = [vs[0], "count(*) AS n_cnt"] if draw(st.booleans()) else list(vs[:2])
        if chainpath and draw(st.booleans()):
            # round-14: row-local multi-segment path projections
            items.append(
                draw(
                    st.sampled_from(
                        ["size(nodes(p3)) AS np3", "nodes(p3)[0] AS fn3"]
                    )
                )
            )
        if rvar_scalar and draw(st.integers(0, 3)) == 0:  # round-7 aggregates
            items.append(
                draw(
                    st.sampled_from(
                        [
                            "stDev(r.weight) AS sd",
                            "percentileCont(r.weight, 0.5) AS p50",
                            "percentileDisc(r.weight, 0.9) AS p90",
                            # round-11: post-aggregation expressions
                            "round(avg(r.weight), 2) AS paw",
                            "max(r.weight) - min(r.weight) AS prng",
                            "size(collect(r.weight)) AS pk",
                            # round-11: expression-argument aggregates
                            "sum(r.weight * 2) AS sw2",
                            "round(avg(r.weight * 100), 1) AS aw100",
                        ]
                    )
                )
            )
    if rvar_scalar and not with_match and draw(st.booleans()):
        items.append("r.weight AS w")
    if simple_rel and not with_match and draw(st.booleans()):
        # round-7 introspection over the simple single-hop typed rel
        items += draw(
            st.lists(
                st.sampled_from(
                    [
                        "type(r) AS rtype",
                        "startNode(r) AS sn",
                        "endNode(r) AS en",
                    ]
                ),
                min_size=1,
                max_size=3,
                unique=True,
            )
        )
    if not shortest and not with_match and draw(st.integers(0, 3)) == 0:
        items.append(f"array_join(labels({vs[0]}), '|') AS lab")
    if not with_match and draw(st.integers(0, 3)) == 0:
        # round-7 third leg: list expressions / lambdas / 0-based slicing
        items.append(
            draw(
                st.sampled_from(
                    [
                        "any(x IN [1, 2, 3] WHERE x > 2) AS le1",
                        "all(x IN ['a'] WHERE x STARTS WITH 'a') AS le2",
                        "none(x IN [1, 2] WHERE x > 9) AS le3",
                        "single(x IN [1, 2, 3] WHERE x = 2) AS le4",
                        "reduce(s = 0, x IN [1, 2, 3] | s + x) AS le5",
                        "[x IN range(1, 5) WHERE x % 2 = 0 | x * x][0] AS le6",
                        "head([1, 2]) + last([1, 2]) AS le7",
                        "size(tail([1, 2, 3])) AS le8",
                        "size(split('a.b.c', '.')) AS le9",
                        "substring('abcdef', 1, 2) AS le10",
                        "'x' + 'y' AS le11",
                        "CASE 1 WHEN 1 THEN 'one' ELSE 'other' END AS le12",
                        # round-11: list slices (0-based, end-exclusive)
                        "[10, 20, 30, 40][1..3][0] AS le13",
                        "['a', 'b', 'c'][-2..][0] AS le14",
                        "size([1, 2, 3][..2]) AS le15",
                        "'( ) [ ] { } , |' + ' AND WHERE RETURN' AS le16",
                    ]
                )
            )
        )
    if pathvar and not with_match:
        items += draw(
            st.lists(
                st.sampled_from(
                    [
                        "length(p2) AS plen",
                        "nodes(p2) AS pn",
                        "relationships(p2) AS pr",
                        # round-13: path functions COMPOSE inside any
                        # expression, and count(p) aliases to count(*)
                        "size(nodes(p2)) AS pns",
                        "size(relationships(p2)) AS prs",
                        "head(nodes(p2)) AS pnh",
                        "length(p2) + 1 AS plen1",
                        "count(p2) AS pcnt",
                        # round-15: relationship-list comprehensions —
                        # happy path on single-segment non-shortest
                        # patterns, targeted error everywhere else
                        "[r IN relationships(p2) | r.weight] AS prw",
                        "[r IN relationships(p2) WHERE r.weight > 0.5 "
                        "| r.weight] AS prwf",
                        "size([r IN relationships(p2) | r.weight * 2]) "
                        "AS prwn",
                    ]
                ),
                min_size=1,
                max_size=3,
                unique=True,
            )
        )
    if not shortest and not with_match and draw(st.integers(0, 3)) == 0:
        # round-9: subquery-expression items — COUNT{}/EXISTS{}/COLLECT{}
        items.append(
            draw(
                st.sampled_from(
                    [
                        "COUNT {{ (q8:Customer)-[:CUSTOMER_OF]->({v}) }} AS sq1",
                        "EXISTS {{ (q8:Supplier)-[:SUPPLIER_OF]->({v}) }} AS sq2",
                        "NOT EXISTS {{ (q8)-[:NATION_OF]->({v}) }} AS sq3",
                        "COLLECT {{ (q8:Customer)-[:CUSTOMER_OF]->({v}) "
                        "RETURN q8.name }} AS sq4",
                        "COLLECT {{ (q8:Supplier)-[:SUPPLIER_OF]->({v}) "
                        "RETURN DISTINCT q8 }} AS sq5",
                        # round-10: pattern comprehension (COLLECT sugar)
                        "[(q8:Customer)-[:CUSTOMER_OF]->({v}) "
                        "WHERE q8.acctbal > 0 | q8.name] AS sq6",
                    ]
                )
            ).format(v=vs[0])
        )
    if not with_match and draw(st.integers(0, 3)) == 0:  # searched CASE item
        first = items[0].split(" ")[0]
        ref = "k" if unwound else f"{first}.id" if "(" not in first else "n"
        if "(" not in first:
            items.append(
                # the comparison literal must match k's element type —
                # `k = 1` over a STRING unwind list is an ANSI cast error
                f"CASE WHEN {ref} = "
                f"{'1' if unwound and unwind_numeric else repr('c:1')} "
                "THEN 'hit' ELSE 'miss' END AS flag"
            )
    # round-9: CALL { … } subqueries — uncorrelated prefix, a correlated
    # body importing the first pattern variable, or (second pass) a
    # correlated body AFTER the WITH stage importing the piped variable
    opt9 = "OPTIONAL " if draw(st.booleans()) else ""
    if with_match and not shortest and draw(st.integers(0, 3)) == 0:
        q += (
            f" {opt9}CALL {{ WITH piped MATCH (k9:Customer)"
            "-[:CUSTOMER_OF]->(piped) RETURN count(*) AS kc }"
        )
        items.append("kc")
    if not shortest and not with_match and draw(st.integers(0, 3)) == 0:
        if draw(st.booleans()):
            q = f"{opt9}CALL {{ MATCH (g9:Supplier) RETURN count(*) AS gc }} " + q
            items.append("gc")
        elif draw(st.booleans()):
            call = (
                f" {opt9}CALL {{ WITH {vs[0]} MATCH (k9:Customer)"
                f"-[:CUSTOMER_OF]->({vs[0]}) RETURN count(*) AS kc }}"
            )
            # the CALL clause sits after the reading clauses + WHERE
            q += call
            items.append("kc")
        elif draw(st.booleans()):
            # round-10: per-invocation ORDER BY/SKIP/LIMIT tail on a
            # non-aggregating correlated body (window top-k per group)
            desc = " DESC" if draw(st.booleans()) else ""
            skip = f" SKIP {draw(st.integers(0, 2))}" if draw(st.booleans()) else ""
            q += (
                f" {opt9}CALL {{ WITH {vs[0]} MATCH (k9:Customer)"
                f"-[:CUSTOMER_OF]->({vs[0]}) RETURN k9.name AS kn"
                f" ORDER BY kn{desc}{skip} LIMIT {draw(st.integers(1, 3))} }}"
            )
            items.append("kn")
        else:
            # round-10: correlated UNION ALL body (union-then-join)
            q += (
                f" {opt9}CALL {{ WITH {vs[0]} MATCH (k9:Customer)"
                f"-[:CUSTOMER_OF]->({vs[0]}) RETURN k9.name AS kn"
                f" UNION ALL WITH {vs[0]} MATCH (k9:Supplier)"
                f"-[:SUPPLIER_OF]->({vs[0]}) RETURN k9.name AS kn }}"
            )
            items.append("kn")
    q += " RETURN " + ", ".join(items)
    if any(it.endswith("AS n_cnt") for it in items) and draw(st.integers(0, 2)) == 0:
        # round-11: ORDER BY an aggregate expression (maps to the item)
        q += " ORDER BY count(*) DESC"
    elif draw(st.booleans()):
        q += f" ORDER BY {items[0].split(' ')[-1]} DESC"
    if draw(st.booleans()):
        q += f" LIMIT {draw(st.integers(1, 50))}"
    if not with_match and not shortest and draw(st.integers(0, 9)) == 0:
        q = q + " UNION ALL " + q  # same columns by construction
    return q


def _parse_like_runner(piece: str):
    """Mirror _run_single's front-end: extract CALL blocks, pre-parse each
    body for its projection names (recursing through nested CALLs, like
    the runner's _call_projection), then parse the stripped outer query
    with those names in scope."""
    from mimranalytics_core_spark.cypher import _call_projection, _extract_calls

    stripped, calls = _extract_calls(piece)
    extra: set = set()
    for c in calls:
        # correlated UNION ALL specs carry branch queries (query=None)
        for body in c["branches"] if c.get("branches") else [c["query"]]:
            extra |= {
                it["name"]
                for it in _call_projection(body)
                if it["name"] not in c["imports"]
            }
    return parse(stripped, extra_vars=frozenset(extra)) if calls else parse(stripped)


@settings(max_examples=150, deadline=None)
@given(_query())
def test_generated_queries_parse(q):
    from mimranalytics_core_spark.cypher import _split_union

    for piece in _split_union(q)[0]:
        p = _parse_like_runner(piece)
        assert p["projection"]
        # node-only MATCH (round-7) legitimately has zero segments
        assert p["segments"] or len(p["clauses"][0]["vars"]) == 1
        for seg in p["segments"]:
            assert 1 <= seg["min_hops"] <= seg["max_hops"]


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=80))
def test_garbage_never_crashes_with_foreign_exception(s):
    try:
        _parse_like_runner(s)
    except CypherSyntaxError:
        pass  # the one allowed failure mode


@settings(max_examples=100, deadline=None)
@given(st.text(alphabet="MATCH ()-[]>*.:|WHERERETURN abcn'", max_size=60))
def test_near_grammar_garbage_never_crashes(s):
    try:
        parse("MATCH " + s)
    except CypherSyntaxError:
        pass


@settings(max_examples=100, deadline=None)
@given(st.text(alphabet="CALL{}WITH MATCHRETURN xyn(),*':-[]>", max_size=70))
def test_call_garbage_never_crashes(s):
    try:
        _parse_like_runner(s)
    except CypherSyntaxError:
        pass


@settings(max_examples=15, deadline=None)
@given(_query())
def test_generated_queries_execute(spark, q):
    # end-to-end: every grammar-generated query must also COMPILE to a
    # runnable Spark plan and produce rows without an AnalysisException
    # (the parse-only tests above can't see runtime column/type errors).
    # 15 examples ≈ 30 s; the grammar covers CALL/OPTIONAL CALL, subquery
    # items, UNWIND, WITH pipes, unions.
    from mimranalytics_core_spark import api

    df = api.cypher(spark, "/root/testdata/sf0.001", q)
    assert df.limit(5).count() >= 0


_PM_KEYS = st.sampled_from(
    ["id", "name", "label", "mktsegment", "orderstatus", "brand",  # string
     "acctbal", "totalprice", "retailprice",                       # numeric
     "custkey", "suppkey", "orderkey", "partkey",
     "nationkey", "regionkey"]                                     # integer
)


@settings(max_examples=120, deadline=None)
@given(_PM_KEYS, st.sampled_from(["'txt'", "7", "2.5", "true"]), _LABELS)
def test_typed_prop_map_literal_fuzz(key, lit, label):
    """Round-12 (r11 VERDICT #1 done-criteria): every property-map literal
    either type-checks against the attribute-view dtype or raises a
    TARGETED CypherSyntaxError — never a foreign exception, and never a
    deferred runtime ANSI cast failure (string-typed keys with non-string
    literals, numeric keys with strings/bools, integer keys with floats
    all reject at parse time)."""
    from mimranalytics_core_spark.cypher import _PROP_TYPES

    want = _PROP_TYPES[key]
    got = (
        "string" if lit.startswith("'")
        else "boolean" if lit == "true"
        else "integer" if lit == "7"
        else "float"
    )
    ok = (
        (want == "string" and got == "string")
        or (want == "numeric" and got in ("integer", "float"))
        or (want == "integer" and got == "integer")
    )
    q = f"MATCH (v:{label} {{{key}: {lit}}}) RETURN v.id AS i"
    if ok:
        p = parse(q)
        assert p["projection"]
    else:
        try:
            parse(q)
            raise AssertionError(f"no parse error for {q}")
        except CypherSyntaxError:
            pass

"""Node-property fusion in the Cypher compiler against DuckDB.

Node properties come from scans the pattern already reads: a node-only
clause carries them in its node scan, and a label-less variable at the
end of a typed segment gets the label its relationship types imply. Each
query below runs with seeded random parameters and must match its SQL
twin row for row.
"""

from __future__ import annotations

import random

import pytest

from mimranalytics_core_spark import api
from tests.compare import compare, duck_connect
from tests.conftest import SF_SMALL

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

# (name, cypher, twin SQL, params from a seeded Random)
CASES = [
    (
        "tier_implied_chain",
        """MATCH (c:Customer)-[:CUSTOMER_OF]->(n)-[:NATION_OF]->(r)
           WHERE r.name = $region AND c.acctbal > $bal
           RETURN c.custkey AS ck, n.name AS nation, n.nationkey AS nk,
                  r.regionkey AS rk""",
        """SELECT c.c_custkey AS ck, n.n_name AS nation, n.n_nationkey AS nk,
                  r.r_regionkey AS rk
           FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
           JOIN region r ON n.n_regionkey = r.r_regionkey
           WHERE r.r_name = $region AND c.c_acctbal > $bal""",
        lambda r: {"region": r.choice(REGIONS), "bal": round(r.uniform(-1000, 9000), 2)},
    ),
    (
        "tier_implied_reversed",
        """MATCH (r)<-[:NATION_OF]-(n) WHERE n.nationkey < $k
           RETURN r.name AS region, r.regionkey AS rk, n.nationkey AS nk""",
        """SELECT r.r_name AS region, r.r_regionkey AS rk, n.n_nationkey AS nk
           FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
           WHERE n.n_nationkey < $k""",
        lambda r: {"k": r.randrange(1, 26)},
    ),
    (
        "key_through_fact_edge",
        """MATCH (c)-[:PLACED]->(o:Order) WHERE o.totalprice > $price
           RETURN c.custkey AS ck, c.name AS name, o.orderkey AS ok""",
        """SELECT c.c_custkey AS ck, c.c_name AS name, o.o_orderkey AS ok
           FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
           WHERE o.o_totalprice > $price""",
        lambda r: {"price": round(r.uniform(100000, 400000), 2)},
    ),
    (
        "optional_segment_null_extends",
        """MATCH (n:Nation) WHERE n.nationkey < $k
           OPTIONAL MATCH (n)<-[:CUSTOMER_OF]-(c:Customer) WHERE c.acctbal > $bal
           RETURN n.name AS nation, c.custkey AS ck, c.mktsegment AS seg""",
        """SELECT n.n_name AS nation, c.c_custkey AS ck, c.c_mktsegment AS seg
           FROM nation n LEFT JOIN customer c
             ON c.c_nationkey = n.n_nationkey AND c.c_acctbal > $bal
           WHERE n.n_nationkey < $k""",
        lambda r: {"k": r.randrange(5, 26), "bal": round(r.uniform(8000, 9990), 2)},
    ),
    (
        "leading_optional_node_only",
        """OPTIONAL MATCH (s:Supplier) WHERE s.acctbal > $bal AND s.nationkey = $nk
           RETURN s.suppkey AS sk, s.name AS sname, s.acctbal AS bal""",
        """SELECT s.s_suppkey AS sk, s.s_name AS sname, s.s_acctbal AS bal
           FROM (SELECT 1) u LEFT JOIN supplier s
             ON s.s_acctbal > $bal AND s.s_nationkey = $nk""",
        lambda r: {"bal": round(r.uniform(-1000, 9000), 2), "nk": r.randrange(25)},
    ),
    # a label on an already-bound variable in an OPTIONAL clause filters
    # that clause only: n stays bound to its nation on the null-extended
    # rows, so its properties read the nation either way
    *(
        (
            f"optional_relabel_{label.lower()}",
            f"""MATCH (c:Customer)-[:CUSTOMER_OF]->(n) WHERE c.custkey = $ck
               OPTIONAL MATCH (n:{label})
               RETURN n.name AS name, n.nationkey AS nk""",
            """SELECT n.n_name AS name, n.n_nationkey AS nk
               FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
               WHERE c.c_custkey = $ck""",
            lambda r: {"ck": r.randrange(150)},
        )
        for label in ("Region", "Nation")
    ),
]


def _duck_sql(sql: str, params: dict) -> str:
    for k, v in params.items():
        sql = sql.replace(f"${k}", f"'{v}'" if isinstance(v, str) else repr(v))
    return sql


@pytest.fixture(scope="module")
def con():
    c = duck_connect(SF_SMALL)
    yield c
    c.close()


@pytest.mark.parametrize("case", CASES, ids=[c[0] for c in CASES])
def test_fused_properties_match_duckdb(spark, con, case):
    name, query, sql, gen = case
    for seed in range(3):
        params = gen(random.Random(seed))
        df = api.cypher(spark, SF_SMALL, query, params=params)
        problems = compare(df, con, _duck_sql(sql, params), f"{name}{params}")
        assert not problems, problems


"""The ``interactive`` workload: analysts waiting on the HTTP backend.

A closed loop of ``CLIENTS`` threads; each sends its next request only
after the previous reply arrived. A window is a fixed number of requests
(``window_requests``) from a seeded sequence that repeats a stratified
block of ten: seven POST /cypher (each of the seven parameterised
templates below once), two GET /expand and one GET /ubo, in seeded order
within the block. Every response is recorded and checked after the timed
window against a DuckDB twin taking the same parameters.
"""

from __future__ import annotations

import http.client
import json
import random
import threading
import time
from collections import deque
from urllib.parse import urlencode

from mimranalytics_core_spark.operators.graph import HIERARCHY_SQL, TRADE_CREDIT_SQL

CLIENTS = 2
BLOCK = ["cypher"] * 7 + ["expand"] * 2 + ["ubo"]
# blocks in the stream: far more than two windows of a run consume
N_BLOCKS = 200
# requests per second of the closed loop on 4 CPUs
RATE = 1.6

# Owner → entity effective ownership on the hierarchy (customer → nation
# → region, one path per pair), the closure ``api.ubo_report`` computes.
UBO_SQL = f"""
    WITH {HIERARCHY_SQL},
    ce AS (SELECT src, dst, weight FROM edges WHERE rel_type = 'customer_of'),
    nr AS (SELECT src, dst FROM edges WHERE rel_type = 'nation_of')
    SELECT src AS owner, dst AS entity, weight FROM ce
    UNION ALL
    SELECT ce.src, nr.dst, ce.weight FROM ce JOIN nr ON ce.dst = nr.src
"""

# (name, cypher, twin SQL with $name placeholders, param generator). The
# shapes follow registered cypher_* operators that already certify against
# DuckDB: property filter + ORDER BY/LIMIT, UNWIND $ids, a multi-segment
# aggregate, var-length from a bound id, an as-of traversal, a natural-key
# seek into the fact tier and a shortest path from a bound id. There are
# seven, one per /cypher slot of a block, so every block has the same mix.
TEMPLATES = [
    (
        "prop_filter_topk",
        """MATCH (c:Customer) WHERE c.acctbal > $min_bal AND c.nationkey = $nk
           RETURN c.custkey AS custkey, c.name AS name, c.acctbal AS acctbal
           ORDER BY acctbal DESC, custkey ASC LIMIT 10""",
        """SELECT c_custkey AS custkey, c_name AS name, c_acctbal AS acctbal
           FROM customer WHERE c_acctbal > $min_bal AND c_nationkey = $nk
           ORDER BY acctbal DESC, custkey ASC LIMIT 10""",
        lambda r: {"min_bal": round(r.uniform(0, 8000), 2), "nk": r.randrange(25)},
    ),
    (
        "unwind_ids",
        """UNWIND $ids AS cid MATCH (c)-[:CUSTOMER_OF]->(n)
           WHERE c.id = cid RETURN cid, n ORDER BY cid""",
        f"""WITH {HIERARCHY_SQL}
            SELECT ids.cid, e.dst AS n
            FROM (SELECT unnest($ids) AS cid) ids
            JOIN edges e ON e.src = ids.cid AND e.rel_type = 'customer_of'
            ORDER BY cid""",
        lambda r: {"ids": sorted({f"c:{r.randrange(1500)}" for _ in range(5)})},
    ),
    (
        "multi_segment_agg",
        """MATCH (c:Customer)-[:CUSTOMER_OF]->(n)-[:NATION_OF]->(r)
           WHERE r.name = $region AND c.mktsegment = $segment
           RETURN n.name AS nation, count(*) AS n_customers ORDER BY nation""",
        """SELECT n.n_name AS nation, COUNT(*) AS n_customers
           FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
           JOIN region r ON n.n_regionkey = r.r_regionkey
           WHERE r.r_name = $region AND c.c_mktsegment = $segment
           GROUP BY n.n_name ORDER BY nation""",
        lambda r: {
            "region": r.choice(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
            "segment": r.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
            ),
        },
    ),
    (
        "var_length_from_id",
        """MATCH (a)-[:CUSTOMER_OF|NATION_OF*1..2]->(b) WHERE a.id = $id
           RETURN b AS entity, hops ORDER BY hops, entity""",
        f"""WITH {HIERARCHY_SQL},
            te AS (SELECT src, dst FROM edges
                   WHERE rel_type IN ('customer_of', 'nation_of'))
            SELECT dst AS entity, 1 AS hops FROM te WHERE src = $id
            UNION ALL
            SELECT b.dst, 2 FROM te a JOIN te b ON a.dst = b.src WHERE a.src = $id
            ORDER BY hops, entity""",
        lambda r: {"id": f"c:{r.randrange(1500)}"},
    ),
    (
        "asof_traversal",
        """MATCH (c:Customer)-[:OWNS_STAKE]->(s) AS OF $now
           RETURN s AS supplier, count(*) AS n_owners ORDER BY supplier""",
        """WITH tedges AS (
               SELECT 'c:' || o.o_custkey AS src, 's:' || l.l_suppkey AS dst,
                      MIN(o.o_orderdate) AS valid_from,
                      MAX(o.o_orderdate) AS valid_to
               FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
               GROUP BY o.o_custkey, l.l_suppkey)
           SELECT dst AS supplier, COUNT(*) AS n_owners FROM tedges
           WHERE valid_from <= CAST($now AS TIMESTAMP)
             AND CAST($now AS TIMESTAMP) <= valid_to
           GROUP BY dst ORDER BY supplier""",
        lambda r: {
            "now": f"{r.randrange(1996, 2001)}-{r.randrange(1, 13):02d}-01 00:00:00"
        },
    ),
    (
        "natural_key_seek",
        """MATCH (c:Customer {custkey: $ck})-[:PLACED]->(o:Order)
           RETURN o.orderkey AS orderkey, o.orderstatus AS status,
                  round(o.totalprice, 2) AS total
           ORDER BY orderkey""",
        """SELECT o_orderkey AS orderkey, o_orderstatus AS status,
                  ROUND(o_totalprice, 2) AS total
           FROM orders WHERE o_custkey = $ck ORDER BY orderkey""",
        lambda r: {"ck": r.randrange(1500)},
    ),
    (
        "shortest_path_from_id",
        """MATCH p = shortestPath((a)-[:BUYS_FROM|CO_LOCATED*1..2]->(b))
           WHERE a.id = $id RETURN b, length(p) AS hops ORDER BY b""",
        f"""WITH RECURSIVE {TRADE_CREDIT_SQL},
           walk(node, hops) AS (
               SELECT dst, 1 FROM tc_edges WHERE src = $id
               UNION
               SELECT e.dst, w.hops + 1 FROM walk w JOIN tc_edges e ON e.src = w.node
               WHERE w.hops < 2)
           SELECT node AS b, CAST(MIN(hops) AS INTEGER) AS hops FROM walk
           WHERE node <> $id GROUP BY node ORDER BY b""",
        lambda r: {"id": f"c:{r.randrange(50)}"},
    ),
]
TEMPLATE_BY_NAME = {t[0]: t for t in TEMPLATES}
# templates that traverse another graph view than the default hierarchy
TEMPLATE_GRAPH = {"shortest_path_from_id": "trade_credit"}


class _Deck:
    """Seeded draws without replacement, reshuffled when empty, so every
    stretch of the stream holds each choice about equally often."""

    def __init__(self, rng: random.Random, items: list) -> None:
        self.rng, self.items, self.left = rng, items, []

    def draw(self):
        if not self.left:
            self.left = list(self.items)
            self.rng.shuffle(self.left)
        return self.left.pop()


def request_sequence(seed: int) -> list[dict]:
    """The seeded request stream: endpoint order, templates and params."""
    rng = random.Random(seed)
    templates = _Deck(rng, TEMPLATES)
    hops = _Deck(rng, [1, 2, 3])
    seq = []
    for _ in range(N_BLOCKS):
        block = list(BLOCK)
        rng.shuffle(block)
        for kind in block:
            if kind == "cypher":
                name, _, _, gen = templates.draw()
                seq.append({"kind": kind, "template": name, "params": gen(rng)})
            elif kind == "expand":
                tier = rng.choice(["c", "c", "s", "n"])
                top = {"c": 1500, "s": 100, "n": 25}[tier]
                seq.append(
                    {
                        "kind": kind,
                        "entity": f"{tier}:{rng.randrange(top)}",
                        "hops": hops.draw(),
                    }
                )
            else:
                seq.append({"kind": kind, "threshold": round(rng.uniform(0.005, 0.03), 4)})
    return seq


def window_requests(seconds: float) -> int:
    """Requests in a timed window: whole blocks, so every run has the same
    request mix, and a count that follows ``seconds`` alone, so a slower
    host or slower code lengthens the window instead of thinning the
    latency sample."""
    return len(BLOCK) * max(1, round(seconds * RATE / len(BLOCK)))


def warmup_sequence() -> list[dict]:
    """One request of every shape, so compile paths and caches are warm."""
    rng = random.Random(0)
    seq = [
        {"kind": "cypher", "template": name, "params": gen(rng)}
        for name, _, _, gen in TEMPLATES
    ]
    seq.append({"kind": "expand", "entity": "c:0", "hops": 3})
    seq.append({"kind": "ubo", "threshold": 0.05})
    return seq


def send(conn: http.client.HTTPConnection, req: dict) -> tuple[int, bytes]:
    if req["kind"] == "cypher":
        body = json.dumps(
            {
                "q": TEMPLATE_BY_NAME[req["template"]][1],
                "graph": TEMPLATE_GRAPH.get(req["template"], "hierarchy"),
                "params": req["params"],
            }
        )
        conn.request("POST", "/cypher", body, {"Content-Type": "application/json"})
    elif req["kind"] == "expand":
        qs = urlencode({"entities": req["entity"], "hops": req["hops"]})
        conn.request("GET", f"/expand?{qs}")
    else:
        conn.request("GET", f"/ubo?{urlencode({'threshold': req['threshold']})}")
    resp = conn.getresponse()
    return resp.status, resp.read()


def closed_loop(port: int, requests: list[dict]) -> list[dict]:
    """Run ``CLIENTS`` closed-loop clients over the shared request stream
    until it is used up; return one record per request."""
    todo = deque(enumerate(requests))
    lock = threading.Lock()
    records: list[dict] = []

    def client() -> None:
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
        try:
            while True:
                with lock:
                    if not todo:
                        return
                    i, req = todo.popleft()
                t0 = time.perf_counter()
                try:
                    status, body = send(conn, req)
                except (OSError, http.client.HTTPException) as exc:
                    status, body = -1, str(exc).encode()
                    conn.close()
                    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
                ms = (time.perf_counter() - t0) * 1000.0
                with lock:
                    records.append({"i": i, "req": req, "status": status, "body": body, "ms": ms})
        finally:
            conn.close()

    threads = [threading.Thread(target=client) for _ in range(CLIENTS)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    return records


# ---------------------------------------------------------------------------
# correctness: every recorded response against its DuckDB twin
# ---------------------------------------------------------------------------


def _sql_literal(v) -> str:
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, list):
        return "[" + ", ".join(_sql_literal(x) for x in v) + "]"
    return repr(v)


def _bind(sql: str, params: dict) -> str:
    for name in sorted(params, key=len, reverse=True):
        sql = sql.replace(f"${name}", _sql_literal(params[name]))
    return sql


def _canon(v):
    if isinstance(v, float):
        return round(v, 6)
    return v


def _rows(rows: list[dict], cols: list[str]) -> list[tuple]:
    return [tuple(_canon(r.get(c)) for c in cols) for r in rows]


def hierarchy_edges(con) -> list[tuple[str, str]]:
    return con.execute(f"WITH {HIERARCHY_SQL} SELECT src, dst FROM edges").fetchall()


def bfs(edges: list[tuple[str, str]], seeds: list[str], hops: int) -> dict[str, int]:
    """Undirected min-hop distance from ``seeds``, up to ``hops``."""
    adj: dict[str, set[str]] = {}
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    dist = dict.fromkeys(seeds, 0)
    frontier = list(seeds)
    for hop in range(1, hops + 1):
        frontier = [m for n in frontier for m in adj.get(n, ()) if m not in dist]
        dist.update(dict.fromkeys(frontier, hop))
    return dist


class Verifier:
    """DuckDB twins over the same parquet files; results cached per request
    shape so repeated parameters are checked once."""

    def __init__(self, con) -> None:
        self.con = con
        self.cache: dict[str, object] = {}
        self.edges = hierarchy_edges(con)
        self.ubo = con.execute(UBO_SQL).fetchall()

    def _twin_rows(self, sql: str) -> tuple[list[str], list[tuple]]:
        if sql not in self.cache:
            cur = self.con.execute(sql)
            cols = [d[0] for d in cur.description]
            self.cache[sql] = (cols, [tuple(_canon(v) for v in r) for r in cur.fetchall()])
        return self.cache[sql]

    def check(self, rec: dict) -> bool:
        if rec["status"] != 200:
            return False
        rows = json.loads(rec["body"])["rows"]
        req = rec["req"]
        if req["kind"] == "cypher":
            _, _, twin, _ = TEMPLATE_BY_NAME[req["template"]]
            cols, want = self._twin_rows(_bind(twin, req["params"]))
            return _rows(rows, cols) == want
        if req["kind"] == "expand":
            dist = bfs(self.edges, [req["entity"]], req["hops"])
            return sorted((r["node"], r["hop"]) for r in rows) == sorted(dist.items())
        # ubo: effective ownership >= threshold, ordered, capped at 1000 rows
        t = req["threshold"]
        want = sorted(
            ((-round(w, 6), o, e) for o, e, w in self.ubo if w >= t),
        )[:1000]
        got = [(-r["effective_ownership"], r["owner"], r["entity"]) for r in rows]
        return len(got) == len(want) and all(
            g[1:] == w[1:] and abs(g[0] - w[0]) < 2e-6 for g, w in zip(got, want)
        )

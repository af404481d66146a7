"""HTTP serving layer — the reference's backend lifecycle (reference
README.md:26: "Backend: Python (FastAPI)") re-expressed on the engine.

The reference declares a request → query → JSON response lifecycle in
front of the graph store. This module provides that lifecycle with the
standard library only (the container ships no FastAPI/uvicorn; the
route-handler shape below maps 1:1 onto FastAPI path operations, so
swapping the transport is mechanical): a ``ThreadingHTTPServer`` whose
endpoints delegate to :mod:`mimranalytics_core_spark.api` and serialize
the resulting DataFrames as JSON records.

Endpoints (GET, query-string parameters):

- ``/health``                         → {"status": "ok"}
- ``/ubo?threshold=0.25``             → api.ubo_report
- ``/expand?entities=c:1,c:2&hops=2`` → api.expand_neighborhood
- ``/centrality?kind=pagerank``       → api.centrality
- ``/cypher?q=MATCH...&graph=...&params={"name": value}`` → api.cypher
  (the migrating-user entry point; ``params`` is a JSON object binding
  ``$name`` placeholders per request — the FastAPI parameterized-query
  lifecycle; CypherSyntaxError, or a parameter value Spark cannot cast,
  → HTTP 400). Also accepts **POST** with a
  JSON body ``{"q": ..., "graph": ..., "params": {...}, "max_rows": n}``
  — the canonical form for long queries and rich parameter maps (URL
  length limits and query-string escaping stop mattering).
- ``/explain?q=MATCH...&graph=...&params={…}`` → the formatted Spark
  physical plan for a Cypher query WITHOUT executing it (the ops
  surface: a migrating user checks what their saved query compiles to —
  pushed filters, join strategies, shuffle count — before running it at
  corpus scale)
- ``/conflicts?max_levenshtein=3``    → api.conflict_report
- ``/schema``                          → graph-schema introspection: node
  labels + property keys per graph view, relationship types (the Neo4j
  db.schema / db.labels surface a driver calls on connect)
- ``/ops[?family=graph]``             → the saved-query catalog: every
  registered operator with its family and whether a SQL oracle certifies
  it (round-7 — the reference's saved-analytics listing surface)
- ``/run?name=<op>[&max_rows=n]``     → run one saved query by registry
  name against the server's SF directory (name validated against the
  registry — no eval surface; unknown name → HTTP 400)

Design notes:

- One SparkSession serves all requests (Spark is thread-safe for job
  submission; concurrent requests become concurrent Spark jobs under the
  scheduler — at cluster scale this process is a thin driver-side
  gateway, exactly the reference's FastAPI role).
- Responses cap rows at ``max_rows`` (default 1000, clamped to
  ``MAX_ROWS_CAP``; a negative or non-integer value is a 400 before any
  query runs) — an API gateway must never ``collect()`` an unbounded
  result; paging beyond the cap is the ``limit_offset`` operator's job.
- ``/expand`` and ``/ubo`` on a hierarchy within the snapshot gate are
  answered from a driver-side graph snapshot and start no Spark job
  (``functions/graph_snapshot.py``).
- Timestamps/decimals serialize via ``str`` fallback — the audit-report
  JSON shape (README.md:19).
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from pyspark.errors import NumberFormatException
from pyspark.sql import DataFrame, SparkSession


# Server-side ceiling on ``max_rows``: larger requests are clamped to it.
MAX_ROWS_CAP = 10_000
# Routes whose request carries Cypher parameter values: a value Spark
# cannot cast to the type its comparison needs ([CAST_INVALID_INPUT],
# raised at planning or collect) is a client fault there, answered 400.
_PARAM_ROUTES = ("/cypher", "/explain")


def _max_rows(raw) -> int:
    """The response row cap a request asked for: a non-integer or negative
    value is a client error (ValueError → 400, raised before any query
    runs); a value above :data:`MAX_ROWS_CAP` is clamped to it."""
    try:
        n = int(raw)
    except (TypeError, ValueError):
        raise ValueError(f"max_rows must be an integer, got {raw!r}") from None
    if n < 0:
        raise ValueError(f"max_rows must be >= 0, got {n}")
    return min(n, MAX_ROWS_CAP)


def _df_json(df: DataFrame, max_rows: int = 1000) -> bytes:
    rows = [r.asDict(recursive=True) for r in df.limit(max_rows).collect()]
    return json.dumps({"rows": rows, "n": len(rows)}, default=str).encode()


def _schema() -> dict:
    """The /schema payload: node labels with their property keys, from the
    catalog's per-label spec the attribute views are built from, and the
    relationship types per graph view. Static — the graph views are
    derived, so the schema IS the catalog contract, no scan needed."""
    from mimranalytics_core_spark.catalog import ENTITY_LABELS, FACT_LABELS

    def labels(specs: dict) -> dict[str, list[str]]:
        return {name: ["id", "label", *spec.props] for name, spec in specs.items()}

    hier_rels = ["CUSTOMER_OF", "SUPPLIER_OF", "NATION_OF"]
    return {
        "graphs": {
            "hierarchy": {
                "labels": labels(ENTITY_LABELS),
                "relationship_types": hier_rels,
            },
            "business": {
                "labels": labels({**ENTITY_LABELS, **FACT_LABELS}),
                "relationship_types": [*hier_rels, "PLACED", "CONTAINS", "SUPPLIES"],
                "routing": (
                    "default-graph queries naming the fact "
                    "tier (:Order/:Part/:PLACED/:CONTAINS/"
                    ":SUPPLIES) run here automatically"
                ),
            },
            "trade_credit": {
                "labels": {"Customer": ["id"], "Supplier": ["id"]},
                "relationship_types": ["BUYS_FROM", "CO_LOCATED"],
            },
        },
        "universal_properties": ["id", "label", "name"],
    }


# redirect_stdout swaps the PROCESS-global sys.stdout, and the handler
# runs inside a ThreadingHTTPServer — serialize captures so concurrent
# /explain requests (or any other printing thread) cannot interleave the
# plan text. explain() is driver-side plan rendering, so contention is
# negligible.
_EXPLAIN_LOCK = threading.Lock()


def _explain_text(df: DataFrame) -> str:
    """Formatted physical plan via the PUBLIC ``df.explain`` API only
    (``mode="formatted"``, stable since Spark 3.0) — it prints to stdout,
    so capture it. No ``_jvm``/py4j access: survives Spark upgrades and
    degrades gracefully under Spark Connect."""
    import contextlib
    import io

    buf = io.StringIO()
    with _EXPLAIN_LOCK, contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def make_server(
    spark: SparkSession, sf_dir: str, host: str = "127.0.0.1", port: int = 0
) -> ThreadingHTTPServer:
    """Build (not start) the HTTP server bound to ``host:port`` (port 0 =
    ephemeral). Call ``serve_forever()`` / use :func:`serve_background`."""
    from mimranalytics_core_spark import api
    from mimranalytics_core_spark.cypher import CypherSyntaxError

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):  # silence per-request stderr noise
            pass

        def _send(self, code: int, payload: bytes) -> None:
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(payload)))
            self.end_headers()
            self.wfile.write(payload)

        def do_GET(self):  # noqa: N802 (http.server API)
            u = urlparse(self.path)
            q = {k: v[0] for k, v in parse_qs(u.query).items()}
            try:
                if u.path == "/health":
                    self._send(200, b'{"status": "ok"}')
                    return
                max_rows = _max_rows(q.get("max_rows", 1000))
                if u.path == "/ubo":
                    df = api.ubo_report(
                        spark, sf_dir, threshold=float(q.get("threshold", 0.25))
                    )
                elif u.path == "/expand":
                    df = api.expand_neighborhood(
                        spark,
                        sf_dir,
                        entities=q.get("entities", "c:1").split(","),
                        hops=int(q.get("hops", 2)),
                    )
                elif u.path == "/centrality":
                    df = api.centrality(spark, sf_dir, kind=q.get("kind", "pagerank"))
                elif u.path == "/cypher":
                    df = api.cypher(
                        spark,
                        sf_dir,
                        q.get("q", ""),
                        graph=q.get("graph", "hierarchy"),
                        # $name placeholders bind per request — the FastAPI
                        # parameterized-query lifecycle (README.md:26)
                        params=json.loads(q["params"]) if "params" in q else None,
                    )
                elif u.path == "/explain":
                    df = api.cypher(
                        spark,
                        sf_dir,
                        q.get("q", ""),
                        graph=q.get("graph", "hierarchy"),
                        params=json.loads(q["params"]) if "params" in q else None,
                    )
                    self._send(200, json.dumps({"plan": _explain_text(df)}).encode())
                    return
                elif u.path == "/conflicts":
                    df = api.conflict_report(
                        spark, sf_dir, max_levenshtein=int(q.get("max_levenshtein", 3))
                    )
                elif u.path == "/schema":
                    self._send(200, json.dumps(_schema()).encode())
                    return
                elif u.path == "/ops":
                    # saved-query catalog: every registered operator, its
                    # family, and whether a SQL oracle certifies it —
                    # the reference's saved-analytics listing surface
                    from mimranalytics_core_spark.registry import all_ops

                    fam = q.get("family")
                    ops = [
                        {
                            "name": name,
                            "family": spec.category,
                            "oracle": spec.oracle is not None,
                        }
                        for name, spec in sorted(all_ops().items())
                        if fam is None or spec.category == fam
                    ]
                    self._send(200, json.dumps({"ops": ops, "n": len(ops)}).encode())
                    return
                elif u.path == "/run":
                    # run one saved query by registry name; the name is
                    # validated against the registry (no eval surface)
                    from mimranalytics_core_spark.registry import all_ops

                    name = q.get("name", "")
                    spec = all_ops().get(name)
                    if spec is None:
                        raise ValueError(f"unknown op: {name!r} (see /ops)")
                    df = spec.fn(spark, sf_dir)
                else:
                    self._send(404, b'{"error": "unknown endpoint"}')
                    return
                self._send(200, _df_json(df, max_rows=max_rows))
            except (CypherSyntaxError, ValueError) as exc:  # client errors
                self._send(400, json.dumps({"error": str(exc)}).encode())
            except NumberFormatException as exc:
                code = 400 if u.path in _PARAM_ROUTES else 500
                self._send(code, json.dumps({"error": str(exc)}).encode())
            except Exception as exc:  # noqa: BLE001 — gateway boundary
                self._send(500, json.dumps({"error": str(exc)}).encode())

        def do_POST(self):  # noqa: N802 (http.server API)
            """POST /cypher with a JSON body — the canonical parameterized-
            query form (FastAPI request-body lifecycle, README.md:26)."""
            u = urlparse(self.path)
            try:
                if u.path != "/cypher":
                    self._send(404, b'{"error": "unknown endpoint"}')
                    return
                n = int(self.headers.get("Content-Length", 0))
                try:
                    body = json.loads(self.rfile.read(n) or b"{}")
                except json.JSONDecodeError as exc:
                    raise ValueError(f"invalid JSON body: {exc}") from exc
                if not isinstance(body, dict):
                    raise ValueError("request body must be a JSON object")
                max_rows = _max_rows(body.get("max_rows", 1000))
                df = api.cypher(
                    spark,
                    sf_dir,
                    body.get("q", ""),
                    graph=body.get("graph", "hierarchy"),
                    params=body.get("params"),
                )
                self._send(200, _df_json(df, max_rows=max_rows))
            except (CypherSyntaxError, ValueError, NumberFormatException) as exc:
                self._send(400, json.dumps({"error": str(exc)}).encode())
            except Exception as exc:  # noqa: BLE001 — gateway boundary
                self._send(500, json.dumps({"error": str(exc)}).encode())

    return ThreadingHTTPServer((host, port), Handler)


def serve_background(
    spark: SparkSession, sf_dir: str, host: str = "127.0.0.1", port: int = 0
) -> tuple[ThreadingHTTPServer, int]:
    """Start the server on a daemon thread; returns (server, bound_port).
    ``server.shutdown()`` stops it."""
    srv = make_server(spark, sf_dir, host=host, port=port)
    thread = threading.Thread(target=srv.serve_forever, daemon=True)
    thread.start()
    return srv, srv.server_address[1]

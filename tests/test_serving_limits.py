"""Serving row-cap limits: a negative ``max_rows`` is a 400 before any
query runs (GET and POST), and a value above the server-side ceiling is
clamped to it."""

from __future__ import annotations

import json
import urllib.error
import urllib.parse
import urllib.request

import pytest

from mimranalytics_core_spark import api, serving
from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def server(spark):
    srv, port = serving.serve_background(spark, SF_SMALL)
    yield f"http://127.0.0.1:{port}"
    srv.shutdown()
    srv.server_close()


def _get(base, path, **params):
    with urllib.request.urlopen(f"{base}{path}?{urllib.parse.urlencode(params)}", timeout=120) as r:
        return json.loads(r.read())


def _post(base, path, body):
    req = urllib.request.Request(
        f"{base}{path}",
        data=json.dumps(body).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    with urllib.request.urlopen(req, timeout=120) as r:
        return json.loads(r.read())


def _no_query(monkeypatch):
    """Fail the test if an API query starts."""
    def boom(*args, **kwargs):
        raise AssertionError("query ran before max_rows was validated")

    for name in ("expand_neighborhood", "ubo_report", "cypher"):
        monkeypatch.setattr(api, name, boom)


@pytest.mark.parametrize("bad", ["-1", "x", "1.5e"])
def test_get_bad_max_rows_is_400_before_query(server, monkeypatch, bad):
    _no_query(monkeypatch)
    with pytest.raises(urllib.error.HTTPError) as ei:
        _get(server, "/expand", entities="c:1", hops=1, max_rows=bad)
    assert ei.value.code == 400
    assert "max_rows" in json.loads(ei.value.read())["error"]


@pytest.mark.parametrize("bad", [-1, "x", None])
def test_post_bad_max_rows_is_400_before_query(server, monkeypatch, bad):
    _no_query(monkeypatch)
    with pytest.raises(urllib.error.HTTPError) as ei:
        _post(server, "/cypher", {"q": "MATCH (n:Nation) RETURN n", "max_rows": bad})
    assert ei.value.code == 400
    assert "max_rows" in json.loads(ei.value.read())["error"]


def test_over_cap_max_rows_is_clamped(server, monkeypatch):
    monkeypatch.setattr(serving, "MAX_ROWS_CAP", 4)
    got = _get(server, "/expand", entities="n:1", hops=2, max_rows=10**9)
    assert got["n"] == 4
    got = _post(server, "/cypher", {"q": "MATCH (n:Nation) RETURN n", "max_rows": 10**9})
    assert got["n"] == 4
    # under the cap the request's own value holds, zero included
    assert _get(server, "/expand", entities="n:1", hops=2, max_rows=3)["n"] == 3
    assert _get(server, "/expand", entities="n:1", hops=2, max_rows=0)["n"] == 0


def test_max_rows_parser():
    assert serving._max_rows("25") == 25
    assert serving._max_rows(serving.MAX_ROWS_CAP + 1) == serving.MAX_ROWS_CAP
    for bad in (-5, "-1", "ten", None, [1]):
        with pytest.raises(ValueError):
            serving._max_rows(bad)


# a numeric comparison whose parameter value Spark cannot cast
# ([CAST_INVALID_INPUT] → pyspark NumberFormatException)
_BAD_CAST_Q = (
    "MATCH (c:Customer) WHERE c.acctbal > $min_bal AND c.nationkey = $nk "
    "RETURN c.custkey AS custkey ORDER BY custkey LIMIT 10"
)
_BAD_CAST_PARAMS = {"min_bal": "abc", "nk": 3}


def _status(fn) -> tuple[int, str]:
    with pytest.raises(urllib.error.HTTPError) as ei:
        fn()
    return ei.value.code, json.loads(ei.value.read())["error"]


def test_post_cypher_bad_param_value_is_400(server):
    code, err = _status(
        lambda: _post(server, "/cypher", {"q": _BAD_CAST_Q, "params": _BAD_CAST_PARAMS})
    )
    assert code == 400 and "CAST_INVALID_INPUT" in err


def test_get_cypher_bad_param_value_is_400(server):
    code, err = _status(
        lambda: _get(server, "/cypher", q=_BAD_CAST_Q, params=json.dumps(_BAD_CAST_PARAMS))
    )
    assert code == 400 and "CAST_INVALID_INPUT" in err


def test_explain_bad_param_value_is_400(server):
    code, err = _status(
        lambda: _get(server, "/explain", q=_BAD_CAST_Q, params=json.dumps(_BAD_CAST_PARAMS))
    )
    assert code == 400 and "CAST_INVALID_INPUT" in err
    # the same query with a castable value still answers
    ok = dict(_BAD_CAST_PARAMS, min_bal="100.5")
    assert "Physical Plan" in _get(server, "/explain", q=_BAD_CAST_Q, params=json.dumps(ok))["plan"]


_UNTERMINATED = {
    "where": "MATCH (c:Customer) WHERE c.name = 'Customer#1 RETURN c.name AS n",
    "return_item": "MATCH (c:Customer) RETURN 'abc AS x",
    "property_map": "MATCH (c:Customer {name: 'Customer#1}) RETURN c.name AS n",
    "call_body": (
        "MATCH (c:Customer) CALL { MATCH (n:Nation) WHERE n.name = 'X "
        "RETURN n } RETURN c.name AS n"
    ),
}


@pytest.mark.parametrize("q", _UNTERMINATED.values(), ids=_UNTERMINATED.keys())
def test_unterminated_literal_is_a_syntax_error_and_400(server, q):
    from mimranalytics_core_spark.cypher import CypherSyntaxError, parse

    offset = q.rfind("'")
    with pytest.raises(CypherSyntaxError, match=f"unterminated string literal at offset {offset}"):
        parse(q)
    code, err = _status(lambda: _post(server, "/cypher", {"q": q}))
    assert code == 400 and f"unterminated string literal at offset {offset}" in err

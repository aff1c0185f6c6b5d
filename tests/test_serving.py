"""REST serving surface over real HTTP (model: tests/server/web/test_webserver.py)."""

import json
import urllib.error
import urllib.request

import pytest
from pyspark.sql import types as T

from csp_gateway_spark.catalog import ChannelCatalog
from csp_gateway_spark.serving.app import GatewayApi, GatewayHttpServer

QUOTE = T.StructType([T.StructField("sym", T.StringType()), T.StructField("px", T.DoubleType()), T.StructField("user", T.StringType())])


def _get(port, path):
    with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}") as r:
        return json.loads(r.read())


def _post(port, path, payload):
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}{path}",
        data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    with urllib.request.urlopen(req) as r:
        return json.loads(r.read())


@pytest.fixture(scope="module")
def server(spark):
    cat = ChannelCatalog(spark)
    cat.declare("quotes", QUOTE)
    cat.declare_state("quotes", "sym")
    cat.send("quotes", [{"sym": "A", "px": 1.0, "user": "u1"}, {"sym": "B", "px": 2.0, "user": "u2"}])
    srv = GatewayHttpServer(GatewayApi(cat)).start()
    yield srv
    srv.stop()


def test_heartbeat_and_channels(server):
    assert _get(server.port, "/api/v1/controls/heartbeat")["status"] == "ok"
    assert "quotes" in _get(server.port, "/api/v1/channels")
    stats = _get(server.port, "/api/v1/controls/stats")
    assert "quotes" in stats["channels"]


def test_state_route_with_query(server):
    rows = _get(server.port, "/api/v1/state/quotes")
    assert [r["sym"] for r in rows] == ["A", "B"]
    q = json.dumps({"filters": [{"attr": "px", "op": ">", "value": 1.5}]})
    rows = _get(server.port, f"/api/v1/state/quotes?query={urllib.request.quote(q)}")
    assert [r["sym"] for r in rows] == ["B"]


def test_send_echo_and_last(server):
    echoed = _post(server.port, "/api/v1/send/quotes", {"sym": "C", "px": 3.0, "user": "u1"})
    assert echoed[0]["sym"] == "C" and echoed[0]["id"]
    last = _get(server.port, "/api/v1/last/quotes")
    assert last[0]["sym"] == "C"


def test_lookup_and_404(server):
    rows = _get(server.port, "/api/v1/state/quotes")
    rid = rows[0]["id"]
    found = _get(server.port, f"/api/v1/lookup/quotes/{rid}")
    assert found[0]["id"] == rid
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(server.port, "/api/v1/lookup/quotes/doesnotexist")
    assert e.value.code == 404
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(server.port, "/api/v1/last/nosuchchannel")
    assert e.value.code == 404


def test_bad_query_422(server):
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(server.port, "/api/v1/state/quotes?query=notjson")
    assert e.value.code == 422


def test_identity_row_filter(spark):
    cat = ChannelCatalog(spark)
    cat.declare("q2", QUOTE)
    cat.declare_state("q2", "sym")
    cat.send("q2", [{"sym": "A", "px": 1.0, "user": "u1"}, {"sym": "B", "px": 2.0, "user": "u2"}])
    srv = GatewayHttpServer(GatewayApi(cat, identity_filter={"user": "u1"})).start()
    try:
        rows = _get(srv.port, "/api/v1/state/q2")
        assert [r["sym"] for r in rows] == ["A"]  # row-level auth filter
        # send with mismatched identity -> 403 (auth_filter.py:280-354)
        with pytest.raises(urllib.error.HTTPError) as e:
            _post(srv.port, "/api/v1/send/q2", {"sym": "C", "px": 3.0, "user": "u2"})
        assert e.value.code == 403
    finally:
        srv.stop()


def test_state_limit_param(server):
    rows = _get(server.port, "/api/v1/state/quotes?limit=1")
    assert len(rows) == 1
    assert _get(server.port, "/api/v1/state/quotes?limit=0") == []
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(server.port, "/api/v1/state/quotes?limit=notanint")
    assert e.value.code == 422
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(server.port, "/api/v1/state/quotes?limit=-1")
    assert e.value.code == 422
    # the Perspective routes share the same limit check
    for bad in ("abc", "-1"):
        with pytest.raises(urllib.error.HTTPError) as e:
            urllib.request.urlopen(
                f"http://127.0.0.1:{server.port}/api/v1/perspective/arrow/quotes?limit={bad}"
            )
        assert e.value.code == 422, bad
        with pytest.raises(urllib.error.HTTPError) as e:
            _post(server.port, f"/api/v1/perspective/view/quotes?limit={bad}", {})
        assert e.value.code == 422, bad
    assert len(_post(server.port, "/api/v1/perspective/view/quotes?limit=1", {})) == 1


def test_global_lookup_by_id(server):
    """`GET /lookup/id/<id>` — global id lookup across every channel
    (reference `web/routes/lookup.py:70-85` global registry; here a
    per-channel pushed-down point probe)."""
    rows = _get(server.port, "/api/v1/state/quotes")
    rid = rows[0]["id"]
    found = _get(server.port, f"/api/v1/lookup/id/{rid}")
    assert found[0]["id"] == rid and found[0]["sym"] == rows[0]["sym"]
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(server.port, "/api/v1/lookup/id/999999999999")
    assert e.value.code == 404


def test_serving_filters_run_engine_side(spark):
    """Identity/key/limit predicates must be in the DataFrame plan
    (reference `auth_filter.py:533-571` ≙ df.filter, SURVEY §2.2 P4),
    not applied in Python after collect."""
    cat = ChannelCatalog(spark)
    cat.declare("q3", QUOTE)
    cat.declare_state("q3", "sym")
    cat.send("q3", [{"sym": "A", "px": 1.0, "user": "u1"}, {"sym": "B", "px": 2.0, "user": "u2"}])
    api = GatewayApi(cat, identity_filter={"user": "u1"})
    df = api._plan_filters("q3", cat.query("q3"), key="A", limit=5)
    # analyzed, not optimized: the optimizer folds the predicates into
    # the served LocalRelation
    plan = df._jdf.queryExecution().analyzed().toString()
    assert "u1" in plan  # identity predicate engine-side
    assert "sym" in plan and "= A)" in plan  # key predicate engine-side
    assert "GlobalLimit 5" in plan
    assert [r["sym"] for r in api.state("q3")] == ["A"]
    assert api.state("q3", key="A")[0]["px"] == 1.0


def test_lookup_available_channels(server):
    """GET /lookup lists addressable channels (reference
    web/routes/lookup.py:57-69)."""
    chans = _get(server.port, "/api/v1/lookup")
    assert "quotes" in chans and chans == sorted(chans)


def test_index_page_serves_live_view(server):
    """GET / returns the dependency-free HTML live view listing the
    channels (the data face of the descoped Perspective UI)."""
    req = urllib.request.Request(f"http://127.0.0.1:{server.port}/")
    with urllib.request.urlopen(req) as r:
        assert r.headers.get("Content-Type", "").startswith("text/html")
        body = r.read().decode()
    assert "quotes" in body and "csp-gateway-spark" in body

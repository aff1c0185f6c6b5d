"""Status codes and JSON bodies of the serving routes, pinned.

Every read route (`/state`, `/state?query=`, `/state/<key>`, `/last`,
`/last/<key>`, `limit`) against a keyed channel, a channel without
declared state, a declared channel with no tick, and an unknown channel,
with row-level identity filtering on and off.  Then every route of the
server, each on a fresh gateway: its answers, 401 without credentials
when auth is on, 404 for unknown paths and methods, and 422 for
malformed bodies and parameters."""

import datetime
import http.client
import json
import re
import urllib.error
import urllib.parse
import urllib.request

from unittest.mock import ANY

import pytest
from pyspark.sql import types as T

from csp_gateway_spark.catalog import ChannelCatalog
from csp_gateway_spark.serving import app
from csp_gateway_spark.serving.app import GatewayApi, GatewayHttpServer
from csp_gateway_spark.serving.auth import ApiKeyAuth, SimpleAuth

SCHEMA = T.StructType(
    [
        T.StructField("a", T.LongType()),
        T.StructField("b", T.StringType()),
        T.StructField("user", T.StringType()),
        T.StructField("id", T.StringType()),
        T.StructField("timestamp", T.TimestampType()),
    ]
)
R1 = {"a": 1, "b": "x", "user": "u1", "id": "1", "timestamp": "2024-01-01T00:00:01"}
R2 = {"a": 2, "b": "y", "user": "u2", "id": "2", "timestamp": "2024-01-01T00:00:02"}
R3 = {"a": 3, "b": "z", "user": "u1", "id": "3", "timestamp": "2024-01-01T00:00:03"}
Q = "?query=" + urllib.parse.quote(json.dumps({"attr": "a", "op": ">=", "value": 2}))
QL = Q + "&limit=1"

UNKNOWN = (404, {"detail": "unknown channel 'nosuch'"})
NO_STATE = (404, {"detail": "no ticks yet on 'plain': \"channel 'plain' has no state declared\""})
NOT_KEYED = (404, {"detail": "channel 'plain' is not keyed"})
NO_TICK = (
    404,
    {"detail": "no ticks yet on 'empty': channel 'empty' has no provider (finalize() binds null streams)"},
)


def _missing(key, channel):
    return 404, {"detail": f"key {key!r} not found in {channel!r}"}


# (identity filter on, path) -> (status, JSON body)
EXPECTED = {
    (False, "/state/keyed"): (200, [R1, R2, R3]),
    (False, "/state/keyed" + Q): (200, [R2, R3]),
    (False, "/state/keyed" + QL): (200, [R2]),
    (False, "/state/keyed?limit=1"): (200, [R1]),
    (False, "/state/keyed?limit=0"): (200, []),
    (False, "/state/keyed/2"): (200, [R2]),
    (False, "/state/keyed/9"): _missing("9", "keyed"),
    (False, "/last/keyed"): (200, [R3]),
    (False, "/last/keyed/3"): (200, [R3]),
    (False, "/last/keyed/2"): _missing("2", "keyed"),
    (True, "/state/keyed"): (200, [R1, R3]),
    (True, "/state/keyed" + Q): (200, [R3]),
    (True, "/state/keyed" + QL): (200, [R3]),
    (True, "/state/keyed?limit=1"): (200, [R1]),
    (True, "/state/keyed?limit=0"): (200, []),
    (True, "/state/keyed/2"): _missing("2", "keyed"),
    (True, "/state/keyed/3"): (200, [R3]),
    (True, "/last/keyed"): (200, [R3]),
    (True, "/last/keyed/3"): (200, [R3]),
    (True, "/last/keyed/1"): _missing("1", "keyed"),
}
for ident in (False, True):
    EXPECTED.update(
        {
            (ident, "/state/plain"): NO_STATE,
            (ident, "/state/plain" + Q): NO_STATE,
            (ident, "/state/plain?limit=1"): NO_STATE,
            (ident, "/state/plain/2"): NO_STATE,
            (ident, "/last/plain"): (200, [R3]),
            (ident, "/last/plain/3"): NOT_KEYED,
            (ident, "/state/empty"): NO_TICK,
            (ident, "/state/empty" + Q): NO_TICK,
            (ident, "/state/empty/2"): NO_TICK,
            (ident, "/last/empty"): NO_TICK,
            (ident, "/last/empty/2"): NO_TICK,
        }
    )
    for path in ("/state/nosuch", "/state/nosuch" + Q, "/state/nosuch?limit=1", "/state/nosuch/2", "/last/nosuch", "/last/nosuch/2"):
        EXPECTED[(ident, path)] = UNKNOWN


@pytest.fixture(scope="module")
def servers(spark):
    cat = ChannelCatalog(spark)
    rows = [
        dict(r, timestamp=datetime.datetime.fromisoformat(r["timestamp"])) for r in (R1, R2, R3)
    ]
    for name in ("keyed", "plain", "empty"):
        cat.declare(name, SCHEMA)
    cat.declare_state("keyed", "a")
    cat.declare_state("empty", "a")
    cat.send("keyed", rows)
    cat.send("plain", rows)
    srvs = {
        False: GatewayHttpServer(GatewayApi(cat)).start(),
        True: GatewayHttpServer(GatewayApi(cat, identity_filter={"user": "u1"})).start(),
    }
    yield srvs
    for srv in srvs.values():
        srv.stop()


def _call(port, path):
    try:
        with urllib.request.urlopen(f"http://127.0.0.1:{port}/api/v1{path}") as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


@pytest.mark.parametrize("ident,path", sorted(EXPECTED), ids=lambda v: str(v))
def test_read_route_status_and_body(servers, ident, path):
    assert _call(servers[ident].port, path) == EXPECTED[(ident, path)]


# --- every route -------------------------------------------------------

HTML = "text/html; charset=utf-8"
NOT_FOUND = (404, {"detail": "not found"})
UNAUTHORIZED = (401, {"detail": "unauthorized"})
CHANNELS = ["empty", "keyed", "named", "plain"]
TYPES = {"a": "bigint", "b": "string", "user": "string", "id": "string", "timestamp": "timestamp"}
VIEW = json.dumps({"group_by": ["user"], "aggregates": {"a": "sum"}, "sort": [["user", "asc"]]})


def _malformed(body):
    try:
        json.loads(body)
    except json.JSONDecodeError as e:
        return 422, {"detail": f"malformed JSON body: {e}"}


def _sent(**row):
    return 200, [{"a": None, "b": None, "user": None, **row, "id": ANY, "timestamp": ANY}]


# (auth, method, path, body) -> (status, JSON body, or the Content-Type
# of a body that is not JSON).  auth: None (off), "key" (api key, the
# request carries none), "key+" (api key, the request carries it),
# "simple" (form login).  body: None sends no body.
CASES = {
    (None, "GET", "/", None): (200, HTML),
    (None, "POST", "/", None): NOT_FOUND,
    (None, "GET", "/openapi.json", None): (200, ANY),
    (None, "GET", "/nosuch", None): NOT_FOUND,
    (None, "GET", "/api/v1/nosuch", None): NOT_FOUND,
    (None, "GET", "/api/v1", None): NOT_FOUND,
    (None, "GET", "/api/v1/", None): NOT_FOUND,
    (None, "GET", "/api/v2/channels", None): NOT_FOUND,
    (None, "GET", "/api/v1/channels", None): (200, CHANNELS),
    (None, "POST", "/api/v1/channels", None): NOT_FOUND,
    (None, "DELETE", "/api/v1/channels", None): NOT_FOUND,
    (None, "GET", "/api/v1/stream", None): (200, CHANNELS),
    (None, "GET", "/api/v1/last/keyed", None): (200, [R3]),
    (None, "GET", "/api/v1/last/keyed/3", None): (200, [R3]),
    (None, "GET", "/api/v1/last/keyed/3/x", None): NOT_FOUND,
    (None, "GET", "/api/v1/state/keyed", None): (200, [R1, R2, R3]),
    (None, "GET", "/api/v1/state/keyed" + Q, None): (200, [R2, R3]),
    (None, "GET", "/api/v1/state/keyed/2", None): (200, [R2]),
    (None, "GET", "/api/v1/state/keyed?limit=x", None): (422, {"detail": "limit must be an integer, got 'x'"}),
    (None, "GET", "/api/v1/state/keyed?limit=-1", None): (422, {"detail": "limit must be >= 0, got -1"}),
    (None, "GET", "/api/v1/state/keyed?query=%7B", None): (422, {"detail": ANY}),
    (None, "POST", "/api/v1/state/keyed", None): NOT_FOUND,
    (None, "GET", "/api/v1/lookup", None): (200, CHANNELS),
    (None, "GET", "/api/v1/lookup/id/2", None): (200, [R2, R2]),
    (None, "GET", "/api/v1/lookup/id/9", None): (404, {"detail": "No record found with id: 9"}),
    (None, "GET", "/api/v1/lookup/keyed/2", None): (200, [R2]),
    (None, "GET", "/api/v1/lookup/keyed/9", None): (404, {"detail": "id '9' not found in 'keyed'"}),
    (None, "GET", "/api/v1/lookup/nosuch/2", None): UNKNOWN,
    (None, "GET", "/api/v1/next/keyed?timeout=0", None): (408, {"detail": "no tick on 'keyed' within 0s"}),
    (None, "GET", "/api/v1/next/keyed/1?timeout=0", None): (408, {"detail": "no tick on 'keyed' within 0s"}),
    (None, "GET", "/api/v1/next/plain/1?timeout=0", None): NOT_KEYED,
    (None, "GET", "/api/v1/next/nosuch?timeout=0", None): UNKNOWN,
    (None, "GET", "/api/v1/next/keyed?timeout=x", None): (422, {"detail": "timeout must be a number, got 'x'"}),
    (None, "POST", "/api/v1/send/keyed", '{"a": 4, "b": "w"}'): _sent(a=4, b="w"),
    (None, "POST", "/api/v1/send/keyed", '[{"a": 4}, {"a": 5}]'): (200, [_sent(a=4)[1][0], _sent(a=5)[1][0]]),
    (None, "POST", "/api/v1/send/keyed", "{"): _malformed("{"),
    (None, "POST", "/api/v1/send/keyed", '{"a": "x"}'): (422, {"detail": ANY}),
    (None, "POST", "/api/v1/send/keyed", None): (422, {"detail": "send failed: 'NoneType' object is not iterable"}),
    (None, "POST", "/api/v1/send/keyed", '{"user": "u2"}'): _sent(user="u2"),
    (None, "POST", "/api/v1/send/named/q", '{"a": 7}'): _sent(a=7, b="q"),
    (None, "POST", "/api/v1/send/named/q", "[1"): _malformed("[1"),
    (None, "POST", "/api/v1/send/plain/1", "{}"): NOT_KEYED,
    (None, "GET", "/api/v1/send/keyed", None): NOT_FOUND,
    (None, "GET", "/api/v1/controls/heartbeat", None): (200, {"status": "ok", "time": ANY}),
    (None, "GET", "/api/v1/controls/stats", None): (200, ANY),
    (None, "POST", "/api/v1/controls/shutdown", None): (200, {"status": "shutting down"}),
    (None, "GET", "/api/v1/controls/shutdown", None): NOT_FOUND,
    (None, "GET", "/api/v1/field/venue", None): (200, "SIM"),
    (None, "GET", "/api/v1/field/nosuch", None): (404, {"detail": "unknown field 'nosuch'"}),
    (None, "GET", "/api/v1/perspective/tables", None): (200, {"keyed": TYPES, "plain": TYPES}),
    (None, "GET", "/api/v1/perspective/meta", None): (
        200,
        {"empty": {"index": ["a"]}, "keyed": {"index": ["a"]}, "named": {"index": ["b"]}, "plain": {"index": None}},
    ),
    (None, "GET", "/api/v1/channels_graph", None): (
        200,
        {
            "empty": {"getters": ["state(keyby=a)"], "setters": []},
            "keyed": {"getters": ["state(keyby=a)"], "setters": ["producer[send]"]},
            "named": {"getters": ["state(keyby=b)"], "setters": []},
            "plain": {"getters": [], "setters": ["producer[send]"]},
        },
    ),
    (None, "GET", "/api/v1/outputs", None): (
        200,
        {"path": "", "entries": [{"name": "report.txt", "dir": False}, {"name": "sub", "dir": True}]},
    ),
    (None, "GET", "/api/v1/outputs/sub", None): (200, {"path": "sub", "entries": []}),
    (None, "GET", "/api/v1/outputs/report.txt", None): (200, "application/octet-stream"),
    (None, "GET", "/api/v1/outputs/nosuch", None): (404, {"detail": "not found: 'nosuch'"}),
    (None, "GET", "/api/v1/perspective/layouts", None): (200, {"layouts": {"main": "{}"}, "default_layout": "main"}),
    (None, "POST", "/api/v1/perspective/layouts/l1", '{"x": 1}'): (200, {"status": "ok", "name": "l1"}),
    (None, "POST", "/api/v1/perspective/layouts/l1", None): (200, {"status": "ok", "name": "l1"}),
    (None, "POST", "/api/v1/perspective/layouts/l1", "{"): _malformed("{"),
    (None, "DELETE", "/api/v1/perspective/layouts/main", None): (200, {"status": "ok", "name": "main"}),
    (None, "DELETE", "/api/v1/perspective/layouts/nosuch", None): (404, {"detail": "unknown layout 'nosuch'"}),
    (None, "GET", "/api/v1/perspective/arrow/keyed", None): (200, "application/vnd.apache.arrow.stream"),
    (None, "GET", "/api/v1/perspective/arrow/keyed?limit=x", None): (422, {"detail": "limit must be an integer, got 'x'"}),
    (None, "GET", "/api/v1/perspective/arrow/nosuch", None): UNKNOWN,
    (None, "POST", "/api/v1/perspective/view/keyed", VIEW): (200, [{"user": "u1", "sum_a": 4}, {"user": "u2", "sum_a": 2}]),
    (None, "POST", "/api/v1/perspective/view/keyed?limit=1", VIEW): (200, [{"user": "u1", "sum_a": 4}]),
    (None, "POST", "/api/v1/perspective/view/keyed?limit=x", VIEW): (422, {"detail": "limit must be an integer, got 'x'"}),
    (None, "POST", "/api/v1/perspective/view/keyed", "{"): _malformed("{"),
    (None, "POST", "/api/v1/perspective/view/keyed", '{"aggregates": {"a": "nope"}}'): (422, {"detail": ANY}),
    (None, "GET", "/api/v1/perspective/ui", None): (200, HTML),
    (None, "POST", "/api/v1/auth/login", "{}"): NOT_FOUND,
    (None, "POST", "/api/v1/auth/login", "{"): _malformed("{"),
    (None, "GET", "/api/v1/auth/login", None): NOT_FOUND,
    (None, "GET", "/api/v1/auth/callback?code=c", None): NOT_FOUND,
    (None, "GET", "/api/v1/auth/logout", None): NOT_FOUND,
    (None, "GET", "/api/v1/auth/userinfo", None): (200, {}),
    (None, "GET", "/api/v1/auth/nosuch", None): NOT_FOUND,
    ("key", "GET", "/", None): (200, HTML),
    ("key", "GET", "/nosuch", None): NOT_FOUND,
    ("key", "GET", "/openapi.json", None): UNAUTHORIZED,
    ("key", "GET", "/api/v1", None): UNAUTHORIZED,
    ("key", "GET", "/api/v1/nosuch", None): UNAUTHORIZED,
    ("key", "GET", "/api/v1/channels", None): UNAUTHORIZED,
    ("key", "POST", "/api/v1/channels", None): UNAUTHORIZED,
    ("key", "GET", "/api/v1/state/keyed", None): UNAUTHORIZED,
    ("key", "GET", "/api/v1/next/keyed?timeout=x", None): UNAUTHORIZED,
    ("key", "POST", "/api/v1/send/keyed", "{"): UNAUTHORIZED,
    ("key", "POST", "/api/v1/controls/shutdown", None): UNAUTHORIZED,
    ("key", "GET", "/api/v1/auth/userinfo", None): UNAUTHORIZED,
    ("key", "GET", "/api/v1/auth/logout", None): (200, {"status": "ok"}),
    ("key", "POST", "/api/v1/auth/login", "{}"): NOT_FOUND,
    ("key", "GET", "/api/v1/auth/nosuch", None): NOT_FOUND,
    ("key+", "GET", "/openapi.json", None): (200, ANY),
    ("key+", "GET", "/api/v1/channels", None): (200, CHANNELS),
    ("key+", "GET", "/api/v1/nosuch", None): NOT_FOUND,
    ("key+", "GET", "/api/v1/auth/userinfo", None): (200, {"user": "api-key", "key": "k"}),
    ("simple", "POST", "/api/v1/auth/login", '{"username": "alice", "password": "pw"}'): (
        200,
        {"status": "ok", "session": ANY},
    ),
    ("simple", "POST", "/api/v1/auth/login", '{"username": "alice", "password": "no"}'): UNAUTHORIZED,
    ("simple", "POST", "/api/v1/auth/login", None): UNAUTHORIZED,
    ("simple", "POST", "/api/v1/auth/login", "{"): _malformed("{"),
    ("simple", "POST", "/api/v1/auth/login", "[]"): (422, {"detail": "login body must be a JSON object"}),
    ("simple", "GET", "/api/v1/auth/login", None): NOT_FOUND,
    ("simple", "GET", "/api/v1/channels", None): UNAUTHORIZED,
}


def _auth(kind):
    if kind in ("key", "key+"):
        return ApiKeyAuth(["k"])
    if kind == "simple":
        return SimpleAuth(external_validator=lambda user, pw: {"user": user} if pw == "pw" else None)
    return None


@pytest.fixture(scope="module")
def outputs(tmp_path_factory):
    root = tmp_path_factory.mktemp("outputs")
    (root / "report.txt").write_text("ok")
    (root / "sub").mkdir()
    return str(root)


def _gateway(spark, auth, outputs):
    """A fresh server: ``keyed`` and ``plain`` hold R1-R3, ``empty`` and
    ``named`` (keyed by the string ``b``) have no tick."""
    cat = ChannelCatalog(spark)
    for name in CHANNELS:
        cat.declare(name, SCHEMA)
    cat.declare_state("keyed", "a")
    cat.declare_state("empty", "a")
    cat.declare_state("named", "b")
    rows = [dict(r, timestamp=datetime.datetime.fromisoformat(r["timestamp"])) for r in (R1, R2, R3)]
    cat.send_rows("keyed", rows)
    cat.send_rows("plain", rows)
    api = GatewayApi(cat, auth=auth)
    api.fields["venue"] = "SIM"
    api.perspective_layout_save("main", "{}")
    api.outputs_dir = outputs
    return GatewayHttpServer(api).start()


def _request(port, method, path, body=None, headers=None):
    """(status, JSON body), or (status, Content-Type) for a body that is
    not JSON."""
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=30)
    try:
        conn.request(method, path, body=body, headers=headers or {})
        resp = conn.getresponse()
        data = resp.read()
        kind = resp.getheader("Content-Type")
        return resp.status, json.loads(data) if kind == "application/json" else kind
    finally:
        conn.close()


@pytest.fixture(scope="module")
def gateways(spark, outputs):
    """One server per auth kind for the GET cases, which change nothing."""
    srvs = {kind: _gateway(spark, _auth(kind), outputs) for kind in (None, "key", "simple")}
    srvs["key+"] = srvs["key"]
    yield srvs
    for kind in (None, "key", "simple"):
        srvs[kind].stop()


@pytest.mark.parametrize("auth,method,path,body", sorted(CASES, key=str), ids=lambda v: str(v))
def test_route_status_and_body(spark, outputs, gateways, auth, method, path, body):
    headers = {"X-API-Key": "k"} if auth == "key+" else {}
    if method == "GET":
        got = _request(gateways[auth].port, method, path, body, headers)
    else:  # a fresh gateway for what may send, save, delete or shut down
        srv = _gateway(spark, _auth(auth), outputs)
        try:
            got = _request(srv.port, method, path, body, headers)
        finally:
            srv.stop()
    assert got == CASES[(auth, method, path, body)]


@pytest.mark.parametrize("length", ["x", "-1", "1.5"])
def test_malformed_content_length_is_422(gateways, length):
    headers = {"Content-Length": length}
    got = _request(gateways[None].port, "POST", "/api/v1/send/nosuch", "{}", headers)
    assert got == (422, {"detail": f"malformed Content-Length: {length!r}"})


def test_openapi_lists_every_route(gateways):
    """Each table entry once, a ``<channel>`` entry once per channel with
    a schema (``type_`` names it), and nothing else."""
    status, spec = _request(gateways[None].port, "GET", "/openapi.json")
    assert status == 200 and sorted(spec["components"]["schemas"]) == ["keyed", "plain"]
    want = {}
    for method, template, _, _ in app.ROUTES:
        for name in ("keyed", "plain") if "<channel>" in template else (None,):
            path = re.sub(r"<(\w+)\*?>", r"{\1}", template.replace("<channel>", name or "<channel>"))
            want[(path, method.lower())] = name and f"csp_gateway_spark.channels.{name}"
    got = {(path, verb): op.get("type_") for path, ops in spec["paths"].items() for verb, op in ops.items()}
    assert got == want


def test_mirror_of_an_unprovided_channel_serves_its_own_rows(spark):
    cat = ChannelCatalog(spark)
    cat.declare("src", SCHEMA)
    cat.mirror("src", "m")
    cat.send_rows("m", [dict(R1, timestamp=datetime.datetime.fromisoformat(R1["timestamp"]))])
    api = GatewayApi(cat)
    assert api.lookup("m", "1") == [R1]
    assert "/api/v1/state/m" in api.openapi()["paths"]

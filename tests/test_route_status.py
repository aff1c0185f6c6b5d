"""Status codes and JSON bodies of the keyed-last read routes, pinned.

Every read route (`/state`, `/state?query=`, `/state/<key>`, `/last`,
`/last/<key>`, `limit`) against a keyed channel, a channel without
declared state, a declared channel with no tick, and an unknown channel,
with row-level identity filtering on and off."""

import datetime
import json
import urllib.error
import urllib.parse
import urllib.request

import pytest
from pyspark.sql import types as T

from csp_gateway_spark.catalog import ChannelCatalog
from csp_gateway_spark.serving.app import GatewayApi, GatewayHttpServer

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

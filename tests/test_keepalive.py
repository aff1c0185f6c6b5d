"""The HTTP/1.1 transport: a ``GatewayClient`` thread keeps one
connection, the server reads every request body before it answers so
the next request on the connection parses, ``stop()`` ends kept
connections, a client survives a server restart without sending a POST
twice, and a websocket session closes its connection."""

import http.client
import json
import socket
import struct
import time

import pytest
from pyspark.sql import types as T

from csp_gateway_spark import client as client_mod
from csp_gateway_spark.catalog import ChannelCatalog
from csp_gateway_spark.client import GatewayClient
from csp_gateway_spark.serving import ws
from csp_gateway_spark.serving.app import GatewayApi, GatewayHttpServer
from csp_gateway_spark.serving.auth import ApiKeyAuth

SCHEMA = T.StructType([T.StructField("a", T.LongType()), T.StructField("b", T.StringType())])
HEARTBEAT = "/api/v1/controls/heartbeat"


def _api(spark, auth=None):
    cat = ChannelCatalog(spark)
    cat.declare("keyed", SCHEMA)
    cat.declare_state("keyed", "a")
    return GatewayApi(cat, auth=auth)


@pytest.fixture
def server(spark):
    srv = GatewayHttpServer(_api(spark)).start()
    yield srv
    srv.stop()


def _accepted(srv, monkeypatch):
    """The sockets ``srv`` accepts from now on."""
    conns, accept = [], srv._server.get_request

    def record():
        conn, addr = accept()
        conns.append(conn)
        return conn, addr

    monkeypatch.setattr(srv._server, "get_request", record)
    return conns


def _log_rows(client):
    return client.stats()["catalog"]["keyed"]["log_rows"]


def test_client_calls_share_one_connection_with_nodelay(server, monkeypatch):
    conns = _accepted(server, monkeypatch)
    client = GatewayClient(f"http://127.0.0.1:{server.port}")
    for i in range(4):
        assert client.heartbeat()["status"] == "ok"
        client.send("keyed", {"a": i, "b": "x"})
        assert [r["a"] for r in client.state("keyed")] == list(range(i + 1))
    assert len(conns) == 1
    assert conns[0].getsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY)
    client.close()
    assert client.heartbeat()["status"] == "ok" and len(conns) == 2
    client.close()


@pytest.mark.parametrize(
    "auth,path,headers,status,kept",
    [
        ("key", "/api/v1/send/keyed", {}, 401, True),
        (None, "/api/v1/nosuch", {}, 404, True),
        (None, "/api/v1/send/keyed", {"Content-Length": "x"}, 422, False),
    ],
)
def test_unread_body_leaves_the_connection_usable(spark, auth, path, headers, status, kept):
    """The POST is answered before its body is read; the GET after it on
    the same connection is answered 200, on the same socket unless the
    body's length is unknown."""
    srv = GatewayHttpServer(_api(spark, ApiKeyAuth(["k"]) if auth else None)).start()
    conn = http.client.HTTPConnection("127.0.0.1", srv.port, timeout=10)
    try:
        conn.request("POST", path, body='{"a": 1, "b": "x"}', headers=headers)
        resp = conn.getresponse()
        resp.read()
        assert resp.status == status
        sock = conn.sock
        conn.request("GET", HEARTBEAT, headers={"X-API-Key": "k"})
        resp = conn.getresponse()
        assert (resp.status, json.loads(resp.read())["status"]) == (200, "ok")
        assert (sock is not None and conn.sock is sock) == kept
    finally:
        conn.close()
        srv.stop()


def _answers(conn):
    """The status of a GET on ``conn``, or None when it is not answered."""
    try:
        conn.request("GET", HEARTBEAT)
        resp = conn.getresponse()
        resp.read()
        return resp.status
    except (http.client.HTTPException, OSError):
        return None


def test_stop_ends_kept_connections(spark):
    srv = GatewayHttpServer(_api(spark)).start()
    conn = http.client.HTTPConnection("127.0.0.1", srv.port, timeout=10)
    try:
        assert _answers(conn) == 200
        srv.stop()
        assert _answers(conn) is None
    finally:
        conn.close()


def _refused(port) -> bool:
    try:
        socket.create_connection(("127.0.0.1", port), timeout=10).close()
        return False
    except ConnectionRefusedError:
        return True


def test_shutdown_route_answers_then_stops(spark):
    srv = GatewayHttpServer(_api(spark)).start()
    conn = http.client.HTTPConnection("127.0.0.1", srv.port, timeout=10)
    try:
        conn.request("POST", "/api/v1/controls/shutdown")
        resp = conn.getresponse()
        assert (resp.status, json.loads(resp.read())) == (200, {"status": "shutting down"})
        deadline = time.time() + 10
        while not _refused(srv.port) and time.time() < deadline:
            time.sleep(0.01)
        assert _refused(srv.port)
        assert _answers(conn) is None
    finally:
        conn.close()


def test_client_reconnects_after_restart(spark):
    api = _api(spark)
    srv = GatewayHttpServer(api).start()
    client = GatewayClient(f"http://127.0.0.1:{srv.port}")
    client.send("keyed", {"a": 1, "b": "x"})
    srv.stop()
    srv = GatewayHttpServer(api, port=srv.port).start()
    try:
        assert client.heartbeat()["status"] == "ok"
        client.send("keyed", {"a": 2, "b": "y"})
        assert _log_rows(client) == 2
    finally:
        client.close()
        srv.stop()


def test_stale_connection_retries_a_get_and_never_a_post(spark, monkeypatch):
    """With the closed-socket check blinded, a GET on the connection the
    restart closed is sent again on a new one; a POST raises and its
    rows are not stored."""
    api = _api(spark)
    srv = GatewayHttpServer(api).start()
    get_client, post_client = (GatewayClient(f"http://127.0.0.1:{srv.port}") for _ in range(2))
    get_client.heartbeat()
    post_client.heartbeat()
    srv.stop()
    srv = GatewayHttpServer(api, port=srv.port).start()
    monkeypatch.setattr(client_mod, "_readable", lambda sock: False)
    try:
        assert get_client.heartbeat()["status"] == "ok"
        with pytest.raises(ConnectionError):
            post_client.send("keyed", {"a": 1, "b": "x"})
        assert _log_rows(get_client) == 0
        post_client.send("keyed", {"a": 1, "b": "x"})
        assert _log_rows(get_client) == 1
    finally:
        get_client.close()
        post_client.close()
        srv.stop()


def test_websocket_session_closes_its_connection(server):
    client = GatewayClient(f"http://127.0.0.1:{server.port}")
    sock = client.stream(["keyed"])
    time.sleep(0.2)  # let the subscription register before the tick
    client.send("keyed", {"a": 1, "b": "x"})
    assert sock.recv_json()["data"]["a"] == 1
    ws.write_frame(sock._wfile, b"", ws.OP_CLOSE, mask=True)
    sock._sock.settimeout(10)
    assert sock._sock.recv(1) == b""  # the server closed the upgraded connection
    sock._sock.close()
    assert [r["a"] for r in client.last("keyed")] == [1]
    assert client.heartbeat()["status"] == "ok"
    client.close()


def test_dropped_connection_is_not_reported(server, capfd):
    conn = socket.create_connection(("127.0.0.1", server.port), timeout=10)
    conn.sendall(f"GET {HEARTBEAT} HTTP/1.1\r\nHost: x\r\n\r\n".encode())
    assert b" 200 " in conn.recv(4096)
    conn.setsockopt(socket.SOL_SOCKET, socket.SO_LINGER, struct.pack("ii", 1, 0))
    conn.close()  # a reset, read by the handler waiting for the next request
    deadline = time.time() + 10
    while server._server._conns and time.time() < deadline:
        time.sleep(0.01)
    assert not server._server._conns
    try:
        raise ValueError("an error the server reports")
    except ValueError:
        server._server.handle_error(None, ("127.0.0.1", 0))
    err = capfd.readouterr().err
    assert "ConnectionResetError" not in err and "an error the server reports" in err

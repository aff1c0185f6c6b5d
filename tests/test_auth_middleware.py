"""Auth middleware matrix (serving/auth.py) over real sockets.

Mirrors the reference's auth coverage
(`csp_gateway/tests/server/web/test_auth_filter.py` plus
`middleware/{api_key,simple,oauth}.py` behavior): api-key /
simple-basic / oauth bearer+code flows against the same routes.
"""

import base64
import json
import urllib.error
import urllib.request

import pytest

from csp_gateway_spark.serving.app import ROUTES, GatewayApi, GatewayHttpServer
from csp_gateway_spark.serving.auth import ApiKeyAuth, OAuth2Auth, SimpleAuth


@pytest.fixture(scope="module")
def catalog(spark):
    from csp_gateway_spark.catalog import ChannelCatalog

    from pyspark.sql.types import StructType

    cat = ChannelCatalog(spark)
    cat.declare("quotes", StructType.fromDDL("symbol string, price double"))
    cat.declare_state("quotes", "symbol")
    cat.send("quotes", [{"symbol": "AA", "price": 1.0}])
    return cat


def _get(url, headers=None):
    req = urllib.request.Request(url, headers=headers or {})
    return json.loads(urllib.request.urlopen(req).read())


def _post(url, payload, headers=None):
    req = urllib.request.Request(
        url, data=json.dumps(payload).encode(), headers=headers or {}, method="POST"
    )
    return urllib.request.urlopen(req)


# ---------------------------------------------------------------------------
# simple auth (basic + form login + sessions)
# ---------------------------------------------------------------------------

def _validator(username, password):
    if (username, password) == ("alice", "wonderland"):
        return {"user": "alice", "groups": ["admin"]}
    return None


@pytest.fixture(scope="module")
def simple_srv(catalog):
    api = GatewayApi(catalog, auth=SimpleAuth(external_validator=_validator))
    srv = GatewayHttpServer(api).start()
    yield f"http://127.0.0.1:{srv.port}"
    srv.stop()


def test_simple_rejects_anonymous(simple_srv):
    with pytest.raises(urllib.error.HTTPError) as ei:
        _get(f"{simple_srv}/api/v1/channels")
    assert ei.value.code == 401


def test_simple_basic_auth_roundtrip(simple_srv):
    tok = base64.b64encode(b"alice:wonderland").decode()
    out = _get(f"{simple_srv}/api/v1/channels", {"Authorization": f"Basic {tok}"})
    assert out == ["quotes"]
    # wrong password still 401
    bad = base64.b64encode(b"alice:nope").decode()
    with pytest.raises(urllib.error.HTTPError) as ei:
        _get(f"{simple_srv}/api/v1/channels", {"Authorization": f"Basic {bad}"})
    assert ei.value.code == 401


def test_simple_form_login_session_cookie(simple_srv):
    resp = _post(
        f"{simple_srv}/api/v1/auth/login",
        {"username": "alice", "password": "wonderland"},
    )
    body = json.loads(resp.read())
    sid = body["session"]
    assert resp.headers["Set-Cookie"].startswith(f"session={sid}")
    # the session cookie now authenticates on its own
    out = _get(f"{simple_srv}/api/v1/channels", {"Cookie": f"session={sid}"})
    assert out == ["quotes"]
    info = _get(f"{simple_srv}/api/v1/auth/userinfo", {"Cookie": f"session={sid}"})
    assert info["user"] == "alice"
    # logout invalidates it
    _get(f"{simple_srv}/api/v1/auth/logout", {"Cookie": f"session={sid}"})
    with pytest.raises(urllib.error.HTTPError) as ei:
        _get(f"{simple_srv}/api/v1/channels", {"Cookie": f"session={sid}"})
    assert ei.value.code == 401


def test_simple_bad_login_401(simple_srv):
    with pytest.raises(urllib.error.HTTPError) as ei:
        _post(f"{simple_srv}/api/v1/auth/login", {"username": "mallory", "password": "x"})
    assert ei.value.code == 401


def test_simple_session_expiry():
    auth = SimpleAuth(external_validator=_validator, session_timeout_sec=-1.0)
    sid = auth.login("alice", "wonderland")
    assert sid is not None
    assert auth.get_identity(sid) is None  # already expired


def test_simple_requires_some_method():
    with pytest.raises(ValueError, match="external_validator or use_host_auth"):
        SimpleAuth()


def test_simple_host_auth_falls_through_without_pam():
    # no pam/pamela in this container: host auth denies, never crashes
    auth = SimpleAuth(use_host_auth=True)
    assert auth.validate_credentials("root", "root") is None


# ---------------------------------------------------------------------------
# oauth2/oidc (stubbed provider endpoints — no network)
# ---------------------------------------------------------------------------

class FakeProvider:
    """In-process OIDC provider: discovery, token, userinfo, introspect."""

    def __init__(self):
        self.issued = {"tok-alice": {"sub": "alice", "email": "a@example.com"}}
        self.calls = []

    def get_json(self, url, headers=None):
        self.calls.append(("GET", url))
        if url.endswith("/.well-known/openid-configuration"):
            return {
                "token_endpoint": "https://idp.test/token",
                "authorization_endpoint": "https://idp.test/authorize",
                "userinfo_endpoint": "https://idp.test/userinfo",
                "introspection_endpoint": "https://idp.test/introspect",
            }
        if url == "https://idp.test/userinfo":
            tok = (headers or {}).get("Authorization", "")[7:]
            info = self.issued.get(tok)
            if info is None:
                raise ValueError("invalid token")
            return info
        raise AssertionError(f"unexpected GET {url}")

    def post_form(self, url, data, basic_auth=None):
        self.calls.append(("POST", url))
        if url == "https://idp.test/token":
            assert data["grant_type"] == "authorization_code"
            if data["code"] == "good-code":
                return {"access_token": "tok-alice", "refresh_token": "r1", "id_token": "i1"}
            return {}
        if url == "https://idp.test/introspect":
            return {"active": data["token"] in self.issued, "sub": "alice"}
        raise AssertionError(f"unexpected POST {url}")


def _oauth(**kw):
    provider = FakeProvider()
    auth = OAuth2Auth(
        issuer="https://idp.test",
        client_id="cid",
        client_secret="sec",
        http_get_json=provider.get_json,
        http_post_form=provider.post_form,
        **kw,
    )
    return auth, provider


def test_oauth_discovery_and_redirect():
    auth, _ = _oauth()
    url = auth.authorize_redirect("http://app/cb", state="xyz")
    assert url.startswith("https://idp.test/authorize?")
    assert "client_id=cid" in url and "state=xyz" in url
    assert "scope=openid+profile+email" in url


def test_oauth_bearer_via_userinfo():
    auth, _ = _oauth()
    ident = auth.identity_from_request(headers={"Authorization": "Bearer tok-alice"})
    assert ident["sub"] == "alice"
    assert auth.identity_from_request(headers={"Authorization": "Bearer nope"}) is None


def test_oauth_bearer_via_introspection():
    auth, provider = _oauth(introspection_url="https://idp.test/introspect")
    ident = auth.identity_from_request(headers={"Authorization": "Bearer tok-alice"})
    assert ident["active"] is True
    assert ("POST", "https://idp.test/introspect") in provider.calls
    assert auth.identity_from_request(headers={"Authorization": "Bearer nope"}) is None


def test_oauth_code_flow_server_roundtrip(catalog):
    auth, _ = _oauth()
    api = GatewayApi(catalog, auth=auth)
    srv = GatewayHttpServer(api).start()
    base = f"http://127.0.0.1:{srv.port}"
    try:
        with pytest.raises(urllib.error.HTTPError) as ei:
            _get(f"{base}/api/v1/channels")
        assert ei.value.code == 401
        login = _get(f"{base}/api/v1/auth/login")
        assert login["redirect"].startswith("https://idp.test/authorize?")
        cb = _get(f"{base}/api/v1/auth/callback?code=good-code")
        sid = cb["session"]
        out = _get(f"{base}/api/v1/channels", {"Cookie": f"oauth_session={sid}"})
        assert out == ["quotes"]
        info = _get(f"{base}/api/v1/auth/userinfo", {"Cookie": f"oauth_session={sid}"})
        assert info["sub"] == "alice"
        with pytest.raises(urllib.error.HTTPError) as ei:
            _get(f"{base}/api/v1/auth/callback?code=bad-code")
        assert ei.value.code == 500
    finally:
        srv.stop()


def test_oauth_requires_issuer_and_client():
    with pytest.raises(ValueError, match="issuer and client_id"):
        OAuth2Auth(issuer="", client_id="")


# ---------------------------------------------------------------------------
# api-key middleware object (same semantics as the api_keys list)
# ---------------------------------------------------------------------------

def test_api_key_middleware_object(catalog):
    api = GatewayApi(catalog, auth=ApiKeyAuth(["k1", "k2"]))
    srv = GatewayHttpServer(api).start()
    base = f"http://127.0.0.1:{srv.port}"
    try:
        with pytest.raises(urllib.error.HTTPError) as ei:
            _get(f"{base}/api/v1/channels")
        assert ei.value.code == 401
        assert _get(f"{base}/api/v1/channels", {"X-API-Key": "k2"}) == ["quotes"]
        assert _get(f"{base}/api/v1/channels?token=k1") == ["quotes"]
        assert _get(f"{base}/api/v1/channels", {"Cookie": "token=k1"}) == ["quotes"]
    finally:
        srv.stop()


def test_oauth_discovery_unreachable_falls_back_to_convention():
    def down(url, headers=None):
        raise ConnectionError("idp down")

    auth = OAuth2Auth(
        issuer="https://idp.test", client_id="cid", http_get_json=down, http_post_form=down
    )
    # discovery unreachable -> convention endpoints (oauth.py fallbacks)
    assert auth.get_token_url() == "https://idp.test/oauth/token"
    assert auth.get_authorize_url() == "https://idp.test/authorize"
    assert auth.get_userinfo_url() == "https://idp.test/userinfo"
    # and a bearer check degrades to unauthorized, never crashes
    assert auth.identity_from_request(headers={"Authorization": "Bearer x"}) is None


def test_shared_auth_route_helpers(catalog):
    """The auth-route methods the route table calls return (body,
    Set-Cookie) pairs."""
    from csp_gateway_spark.serving.app import ApiError

    api = GatewayApi(catalog, auth=SimpleAuth(external_validator=_validator))
    body, cookie = api.auth_login_simple("alice", "wonderland")
    assert body["status"] == "ok"
    assert cookie.startswith(f"session={body['session']}")
    assert "SameSite=Lax" in cookie and "HttpOnly" in cookie
    with pytest.raises(ApiError) as ei:
        api.auth_login_simple("alice", "wrong")
    assert ei.value.status == 401
    # logout drops the session
    api.auth_logout({"session": body["session"]})
    assert api.auth.get_identity(body["session"]) is None
    # oauth-only routes 404 on a SimpleAuth gateway
    with pytest.raises(ApiError) as ei:
        api.auth_login_redirect("h")
    assert ei.value.status == 404


def test_every_protected_route_requires_auth(catalog):
    """With auth configured, EVERY route the table marks as protected
    must 401 without credentials and answer something else with them;
    only the index page and the login/callback/logout routes are public."""
    public = {(m, t) for m, t, _, auth in ROUTES if not auth}
    assert public == {
        ("GET", "/"),
        ("POST", "/api/v1/auth/login"),
        ("GET", "/api/v1/auth/login"),
        ("GET", "/api/v1/auth/callback"),
        ("GET", "/api/v1/auth/logout"),
    }
    api = GatewayApi(catalog, auth=ApiKeyAuth(["k"]))
    srv = GatewayHttpServer(api).start()
    base = f"http://127.0.0.1:{srv.port}"
    args = {"<channel>": "quotes", "<key>": "AA", "<id>": "1", "<name>": "l1", "/<path*>": ""}
    routes = []
    for method, template, _, auth in ROUTES:
        if auth:
            for param, value in args.items():
                template = template.replace(param, value)
            routes.append((method, template + "?timeout=0"))  # /next answers 408 at once
    # must stay LAST: the authed replay actually shuts the server down
    routes.sort(key=lambda route: route[1].startswith("/api/v1/controls/shutdown"))
    assert "<" not in str(routes)
    try:
        for method, path in routes:
            req = urllib.request.Request(
                f"{base}{path}", data=b"{}" if method == "POST" else None, method=method
            )
            with pytest.raises(urllib.error.HTTPError) as ei:
                urllib.request.urlopen(req)
            assert ei.value.code == 401, (method, path, ei.value.code)
            # and the same request WITH the key is not rejected as 401
            req2 = urllib.request.Request(
                f"{base}{path}",
                data=b"{}" if method == "POST" else None,
                method=method,
                headers={"X-API-Key": "k"},
            )
            try:
                urllib.request.urlopen(req2)
            except urllib.error.HTTPError as e:
                assert e.code != 401, (method, path)
    finally:
        try:
            srv.stop()
        except Exception:
            pass

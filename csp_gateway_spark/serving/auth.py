"""Authentication middlewares for the serving layer (SURVEY §2.8 U5).

Reference parity:
- API-key auth        — `csp_gateway/server/middleware/api_key.py:22-130`
- Simple (basic/PAM)  — `csp_gateway/server/middleware/simple.py:135-459`
- OAuth2/OIDC         — `csp_gateway/server/middleware/oauth.py:23-358`

The reference mounts FastAPI dependencies; here the one transport is
the stdlib server in ``serving/app.py``.  Each middleware exposes
``identity_from_request(headers, cookies, query_params)`` returning an
identity dict or None, plus the session machinery the reference keeps
in ``IdentityAwareMiddlewareMixin`` (uuid session cookie → identity
dict, with expiry).  ``GatewayApi.check_request`` calls it for every
route the route table marks as protected.

Network calls (OIDC discovery / token exchange / introspection /
userinfo) go through injectable ``http_get_json`` / ``http_post_form``
callables — stdlib urllib by default, stubbed in tests.
"""

from __future__ import annotations

import base64
import json
import time
import urllib.parse
import urllib.request
from dataclasses import dataclass, field
from typing import Any, Callable, Dict, List, Optional
from uuid import uuid4

__all__ = [
    "AuthMiddleware",
    "ApiKeyAuth",
    "SimpleAuth",
    "OAuth2Auth",
]


class AuthMiddleware:
    """Base: uuid-session store with expiry (`base.py` +
    `IdentityAwareMiddlewareMixin` in the reference)."""

    cookie_name: str = "session"
    session_timeout_sec: float = 12 * 3600.0

    def __init__(self) -> None:
        self._sessions: Dict[str, tuple[Dict[str, Any], float]] = {}

    # -- session machinery -------------------------------------------------
    def create_session(self, identity: Dict[str, Any]) -> str:
        sid = str(uuid4())
        while sid in self._sessions:  # pragma: no cover — uuid collision
            sid = str(uuid4())
        self._sessions[sid] = (identity, time.time() + self.session_timeout_sec)
        return sid

    def get_identity(self, session_uuid: Optional[str]) -> Optional[Dict[str, Any]]:
        if not session_uuid:
            return None
        entry = self._sessions.get(session_uuid)
        if entry is None:
            return None
        identity, expires = entry
        if time.time() >= expires:
            self._sessions.pop(session_uuid, None)
            return None
        return identity

    def drop_session(self, session_uuid: Optional[str]) -> None:
        if session_uuid:
            self._sessions.pop(session_uuid, None)

    # -- per-request hook --------------------------------------------------
    def identity_from_request(
        self,
        headers: Optional[Dict[str, str]] = None,
        cookies: Optional[Dict[str, str]] = None,
        query_params: Optional[Dict[str, str]] = None,
    ) -> Optional[Dict[str, Any]]:
        raise NotImplementedError


def _cookie_dict(cookie_header: str) -> Dict[str, str]:
    out: Dict[str, str] = {}
    for part in (cookie_header or "").split(";"):
        if "=" in part:
            k, v = part.split("=", 1)
            out[k.strip()] = v.strip()
    return out


def _header(headers: Optional[Dict[str, str]], name: str) -> Optional[str]:
    if not headers:
        return None
    return headers.get(name) or headers.get(name.lower()) or headers.get(name.title())


class ApiKeyAuth(AuthMiddleware):
    """Static API keys via `X-API-Key` header, `token` query param, or
    `token` cookie (reference `api_key.py:22-130`, multi-key)."""

    def __init__(self, api_keys: List[str], cookie_name: str = "token") -> None:
        super().__init__()
        self.api_keys = list(api_keys)
        self.cookie_name = cookie_name

    def identity_from_request(self, headers=None, cookies=None, query_params=None):
        import hmac

        supplied = (
            _header(headers, "X-API-Key")
            or (query_params or {}).get("token")
            or (cookies or {}).get(self.cookie_name)
        )
        # constant-time compare against every configured key: API keys are
        # long-lived secrets, so a plain `in` would leak prefixes via timing
        # bytes, not str: compare_digest(str, str) raises TypeError on
        # non-ASCII attacker input → unhandled 500 instead of 401
        if supplied and any(
            hmac.compare_digest(supplied.encode("utf-8"), k.encode("utf-8"))
            for k in self.api_keys
        ):
            return {"user": "api-key", "key": supplied}
        return None


def _host_validate_unix(username: str, password: str) -> Optional[Dict[str, Any]]:
    """PAM validation (pamela → python-pam), as `simple.py:28-64`.
    Neither library ships in this container; import-gated."""
    try:
        import pamela  # type: ignore[import-not-found]

        try:
            pamela.authenticate(username, password)
            return _unix_user_info(username)
        except pamela.PAMError:
            return None
    except ImportError:
        pass
    try:
        import pam  # type: ignore[import-not-found]

        if pam.pam().authenticate(username, password):
            return _unix_user_info(username)
        return None
    except ImportError:
        return None


def _unix_user_info(username: str) -> Dict[str, Any]:
    try:
        import pwd

        pw = pwd.getpwnam(username)
        return {
            "user": username,
            "uid": pw.pw_uid,
            "gid": pw.pw_gid,
            "home": pw.pw_dir,
            "shell": pw.pw_shell,
        }
    except (ImportError, KeyError):
        return {"user": username}


class SimpleAuth(AuthMiddleware):
    """Username/password auth: external validator and/or host (PAM)
    auth, sessions via cookie, HTTP Basic per request
    (reference `simple.py:135-459`).

    ``external_validator(username, password) -> Optional[dict]`` — the
    reference resolves this from a dotted path (ccflow.PyObjectPath);
    here any callable (or dotted ``module:func`` string) is accepted.
    External validator is tried first, then host auth — same order as
    `simple.py:236-260`.
    """

    def __init__(
        self,
        external_validator: Optional[Callable[[str, str], Optional[Dict[str, Any]]] | str] = None,
        use_host_auth: bool = False,
        cookie_name: str = "session",
        session_timeout_sec: float = 12 * 3600.0,
        enable_basic_auth: bool = True,
    ) -> None:
        super().__init__()
        if external_validator is None and not use_host_auth:
            raise ValueError("Either external_validator or use_host_auth must be set")
        if isinstance(external_validator, str):
            mod, _, attr = external_validator.partition(":")
            import importlib

            external_validator = getattr(importlib.import_module(mod), attr)
        if external_validator is not None and not callable(external_validator):
            raise ValueError("external_validator must be callable")
        self.external_validator = external_validator
        self.use_host_auth = use_host_auth
        self.cookie_name = cookie_name
        self.session_timeout_sec = session_timeout_sec
        self.enable_basic_auth = enable_basic_auth

    def validate_credentials(self, username: str, password: str) -> Optional[Dict[str, Any]]:
        if self.external_validator is not None:
            try:
                identity = self.external_validator(username, password)
            except Exception:  # noqa: BLE001 — validator errors deny, never crash
                identity = None
            if identity:
                return identity
        if self.use_host_auth:
            return _host_validate_unix(username, password)
        return None

    def login(self, username: str, password: str) -> Optional[str]:
        """Form-login path: validate → new session uuid (cookie value)."""
        identity = self.validate_credentials(username, password)
        return self.create_session(identity) if identity else None

    def identity_from_request(self, headers=None, cookies=None, query_params=None):
        # session cookie first (simple.py:298-306)
        identity = self.get_identity((cookies or {}).get(self.cookie_name))
        if identity:
            return identity
        # then HTTP Basic (simple.py:308-321)
        if self.enable_basic_auth:
            auth = _header(headers, "Authorization") or ""
            if auth.lower().startswith("basic "):
                try:
                    decoded = base64.b64decode(auth[6:]).decode("utf-8")
                    username, password = decoded.split(":", 1)
                except Exception:  # noqa: BLE001 — malformed header ⇒ no identity
                    return None
                identity = self.validate_credentials(username, password)
                if identity and isinstance(identity, dict):
                    return identity
        return None


def _default_http_get_json(url: str, headers: Optional[Dict[str, str]] = None) -> Dict[str, Any]:
    req = urllib.request.Request(url, headers=headers or {})
    with urllib.request.urlopen(req, timeout=10) as resp:  # noqa: S310 — issuer URL is operator config
        return json.loads(resp.read().decode())


def _default_http_post_form(
    url: str,
    data: Dict[str, str],
    basic_auth: Optional[tuple[str, str]] = None,
) -> Dict[str, Any]:
    headers = {"Content-Type": "application/x-www-form-urlencoded"}
    if basic_auth:
        token = base64.b64encode(f"{basic_auth[0]}:{basic_auth[1]}".encode()).decode()
        headers["Authorization"] = f"Basic {token}"
    req = urllib.request.Request(
        url, data=urllib.parse.urlencode(data).encode(), headers=headers, method="POST"
    )
    with urllib.request.urlopen(req, timeout=10) as resp:  # noqa: S310
        return json.loads(resp.read().decode())


@dataclass
class OAuth2Auth(AuthMiddleware):
    """OAuth2/OIDC: authorization-code flow + bearer validation
    (reference `oauth.py:23-358`).

    Endpoints are auto-discovered from
    ``<issuer>/.well-known/openid-configuration`` unless given.  Bearer
    tokens validate via the introspection endpoint when configured
    (``active`` claim, oauth.py:195-206), else the userinfo endpoint.
    Session cookie short-circuits both (oauth.py:181-189).
    """

    issuer: str = ""
    client_id: str = ""
    client_secret: Optional[str] = None
    scopes: List[str] = field(default_factory=lambda: ["openid", "profile", "email"])
    token_url: Optional[str] = None
    authorize_url: Optional[str] = None
    userinfo_url: Optional[str] = None
    introspection_url: Optional[str] = None
    cookie_name: str = "oauth_session"
    session_timeout_sec: float = 12 * 3600.0
    http_get_json: Callable[..., Dict[str, Any]] = field(default=_default_http_get_json)
    http_post_form: Callable[..., Dict[str, Any]] = field(default=_default_http_post_form)

    def __post_init__(self) -> None:
        AuthMiddleware.__init__(self)
        if not self.issuer or not self.client_id:
            raise ValueError("issuer and client_id are required")
        self._oidc_config: Optional[Dict[str, Any]] = None

    # -- discovery (oauth.py:80-112) --------------------------------------
    def _config(self) -> Dict[str, Any]:
        if self._oidc_config is None:
            url = f"{self.issuer.rstrip('/')}/.well-known/openid-configuration"
            self._oidc_config = self.http_get_json(url)
        return self._oidc_config

    def _endpoint(self, explicit: Optional[str], key: str, fallback: str) -> str:
        if explicit:
            return explicit
        try:
            return self._config().get(key, fallback)
        except Exception:  # noqa: BLE001 — discovery unreachable ⇒ convention URL
            return fallback

    def get_token_url(self) -> str:
        return self._endpoint(self.token_url, "token_endpoint", f"{self.issuer}/oauth/token")

    def get_authorize_url(self) -> str:
        return self._endpoint(self.authorize_url, "authorization_endpoint", f"{self.issuer}/authorize")

    def get_userinfo_url(self) -> str:
        return self._endpoint(self.userinfo_url, "userinfo_endpoint", f"{self.issuer}/userinfo")

    # -- flows -------------------------------------------------------------
    def authorize_redirect(self, redirect_uri: str, state: Optional[str] = None) -> str:
        """URL for the /login redirect (oauth.py:265-280)."""
        params = {
            "client_id": self.client_id,
            "redirect_uri": redirect_uri,
            "response_type": "code",
            "scope": " ".join(self.scopes),
            "state": state or str(uuid4()),
        }
        return f"{self.get_authorize_url()}?{urllib.parse.urlencode(params)}"

    def exchange_code(self, code: str, redirect_uri: str) -> Dict[str, Any]:
        data = {
            "grant_type": "authorization_code",
            "code": code,
            "redirect_uri": redirect_uri,
            "client_id": self.client_id,
        }
        if self.client_secret:
            data["client_secret"] = self.client_secret
        return self.http_post_form(self.get_token_url(), data)

    def fetch_userinfo(self, access_token: str) -> Dict[str, Any]:
        return self.http_get_json(
            self.get_userinfo_url(), headers={"Authorization": f"Bearer {access_token}"}
        )

    def introspect(self, token: str) -> Dict[str, Any]:
        url = self.introspection_url or self._config().get("introspection_endpoint")
        if not url:
            raise ValueError("No introspection endpoint configured")
        data = {"token": token}
        basic = None
        if self.client_secret:
            basic = (self.client_id, self.client_secret)
        else:
            data["client_id"] = self.client_id
        return self.http_post_form(url, data, basic_auth=basic)

    def handle_callback(self, code: str, redirect_uri: str) -> str:
        """Code → tokens → userinfo → session uuid (oauth.py:282-324)."""
        tokens = self.exchange_code(code, redirect_uri)
        access_token = tokens.get("access_token")
        if not access_token:
            raise ValueError("No access token in response")
        userinfo = self.fetch_userinfo(access_token)
        return self.create_session(
            {
                "userinfo": userinfo,
                "access_token": access_token,
                "refresh_token": tokens.get("refresh_token"),
                "id_token": tokens.get("id_token"),
            }
        )

    def identity_from_request(self, headers=None, cookies=None, query_params=None):
        identity = self.get_identity((cookies or {}).get(self.cookie_name))
        if identity:
            return identity.get("userinfo", identity)
        auth = _header(headers, "Authorization") or ""
        if auth.lower().startswith("bearer "):
            token = auth[7:]
            try:
                if self.introspection_url:
                    info = self.introspect(token)
                    if info.get("active", False):
                        return info
                else:
                    userinfo = self.fetch_userinfo(token)
                    if userinfo:
                        return userinfo
            except Exception:  # noqa: BLE001 — invalid/unreachable ⇒ unauthorized
                return None
        return None

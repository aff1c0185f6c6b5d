"""Python client for the REST surface (reference `client/client.py`:
sync+async clients generated from OpenAPI with raw/pandas/polars/struct
return types, `client.py:397-1150`; async variant `client.py:334-381`;
WS→graph adapter `client/csp_stream.py:35-100`).

This client is dependency-light (stdlib ``http.client``; httpx used by
the async client when present) and returns raw dicts, pandas, polars,
or Spark DataFrames.  Each thread keeps one HTTP/1.1 connection to the
server across calls.
"""

from __future__ import annotations

import asyncio
import http.client
import io
import json
import select
import threading
import urllib.error
import urllib.parse
import weakref
from typing import Any, Dict, List, Optional

from csp_gateway_spark.query import Filter, Query

_RETURN_TYPES = ("raw", "pandas", "polars", "spark")


def _wrap_rows(rows: List[dict], return_type: str) -> Any:
    if return_type == "pandas":
        import pandas as pd

        return pd.DataFrame(rows)
    if return_type == "polars":
        try:
            import polars as pl
        except ImportError as e:  # pragma: no cover — polars not in container
            raise ImportError("return_type='polars' requires the polars package") from e
        return pl.DataFrame(rows)
    if return_type == "spark":
        from csp_gateway_spark.session import get_spark

        return get_spark().createDataFrame(rows) if rows else None
    return rows


def _readable(sock) -> bool:
    """Whether ``sock`` has data, its end or an error to read now
    (``poll``: a descriptor above ``select``'s FD_SETSIZE works too)."""
    poller = select.poll()
    poller.register(sock, select.POLLIN)
    return bool(poller.poll(0))


class GatewayClient:
    """Sync client: ``last/state/send/lookup/next/heartbeat/stats``.

    ``api_key`` is sent as `X-API-Key`; arbitrary extra ``headers``
    (e.g. a Bearer token or session cookie) ride every request.

    Each thread keeps one connection (``http.client``).  A kept
    connection the server has closed is replaced before a request is
    sent; a GET that fails on a kept connection is sent once more on a
    new one, a POST never is, so a send is never applied twice.  A 4xx
    or 5xx answer raises ``urllib.error.HTTPError`` with its body.
    ``close()`` closes the kept connections.
    """

    def __init__(
        self,
        base_url: str,
        timeout: float = 30.0,
        return_type: str = "raw",
        api_key: Optional[str] = None,
        headers: Optional[Dict[str, str]] = None,
    ):
        self.base_url = base_url.rstrip("/")
        self.timeout = timeout
        if return_type not in _RETURN_TYPES:
            raise ValueError(f"return_type must be one of {'|'.join(_RETURN_TYPES)}")
        self.return_type = return_type
        self.headers = dict(headers or {})
        if api_key:
            self.headers["X-API-Key"] = api_key
        self._url = urllib.parse.urlsplit(self.base_url)
        self._local = threading.local()
        self._conns: weakref.WeakSet = weakref.WeakSet()  # each thread's, for close()

    def close(self) -> None:
        """Close the connections the client keeps; a later call opens a new one."""
        for conn in list(self._conns):
            conn.close()

    # --- transport ---------------------------------------------------
    def _connection(self) -> http.client.HTTPConnection:
        """This thread's connection.  Its kept socket is closed, so the
        request opens a new one, when it is readable: between answers
        that means the server closed it."""
        conn = getattr(self._local, "conn", None)
        if conn is not None and conn.sock is not None and _readable(conn.sock):
            conn.close()
        if conn is None:
            kind = http.client.HTTPSConnection if self._url.scheme == "https" else http.client.HTTPConnection
            conn = self._local.conn = kind(self._url.hostname, self._url.port, timeout=self.timeout)
            self._conns.add(conn)
        return conn

    def _request(self, method: str, path: str, params: Optional[Dict[str, str]] = None, payload: Any = None) -> Any:
        target = self._url.path + path + ("?" + urllib.parse.urlencode(params) if params else "")
        headers, body = self.headers, None
        if method == "POST":
            headers, body = {"Content-Type": "application/json", **self.headers}, json.dumps(payload).encode()
        while True:
            conn = self._connection()
            kept = conn.sock is not None
            try:
                conn.request(method, target, body=body, headers=headers)
                resp = conn.getresponse()
                data = resp.read()
                break
            except BaseException as e:
                conn.close()  # in an unknown state: the next request opens a new one
                if not (kept and method == "GET" and isinstance(e, ConnectionError)):
                    raise
        if resp.status >= 400:
            url = f"{self._url.scheme}://{self._url.netloc}{target}"
            raise urllib.error.HTTPError(url, resp.status, resp.reason, resp.headers, io.BytesIO(data))
        return json.loads(data)

    def _wrap(self, rows: List[dict]) -> Any:
        return _wrap_rows(rows, self.return_type)

    @staticmethod
    def _k(path: str, key: Optional[str]) -> str:
        return f"{path}/{key}" if key is not None else path

    # --- api ---------------------------------------------------------
    def last(self, channel: str, key: Optional[str] = None) -> Any:
        return self._wrap(self._request("GET", self._k(f"/api/v1/last/{channel}", key)))

    def state(
        self, channel: str, query: Optional[Query] = None, key: Optional[str] = None, **filter_kwargs
    ) -> Any:
        params = None
        if query is None and filter_kwargs:
            query = Query(
                filters=[Filter(attr=k, op="==", value=v) for k, v in filter_kwargs.items()]
            )
        if query is not None:
            params = {"query": query.model_dump_json(exclude_none=True)}
        return self._wrap(self._request("GET", self._k(f"/api/v1/state/{channel}", key), params))

    def send(self, channel: str, payload: Any, key: Optional[str] = None) -> Any:
        return self._wrap(self._request("POST", self._k(f"/api/v1/send/{channel}", key), payload=payload))

    def lookup(self, channel: str, record_id: str) -> Any:
        return self._wrap(self._request("GET", f"/api/v1/lookup/{channel}/{record_id}"))

    def next(self, channel: str, timeout: Optional[float] = None, key: Optional[str] = None) -> Any:
        params = {"timeout": str(timeout)} if timeout is not None else None
        return self._wrap(self._request("GET", self._k(f"/api/v1/next/{channel}", key), params))

    def heartbeat(self) -> dict:
        return self._request("GET", "/api/v1/controls/heartbeat")

    def stats(self) -> dict:
        return self._request("GET", "/api/v1/controls/stats")

    def channels(self) -> List[str]:
        return self._request("GET", "/api/v1/channels")

    def stream(self, channels: List[str], key: Optional[str] = None):
        """Open `WS /api/v1/stream` subscribed to ``channels``; returns
        the WebSocketClient — iterate ``.messages()`` for
        ``{"channel": c, "data": row}`` ticks (reference
        `client.py:subscribe` + `client/csp_stream.py:35-100`)."""
        from csp_gateway_spark.serving.ws import WebSocketClient

        url = self.base_url.replace("http://", "ws://") + "/api/v1/stream"
        # the stream route sits behind auth like every other route; the
        # api key rides the handshake as the `token` query param
        if self.headers.get("X-API-Key"):
            url += "?" + urllib.parse.urlencode({"token": self.headers["X-API-Key"]})
        ws = WebSocketClient(url, timeout=self.timeout)
        for channel in channels:
            msg = {"action": "subscribe", "channel": channel}
            if key is not None:
                msg["key"] = key
            ws.send_json(msg)
        return ws

    def collect_stream(
        self,
        channels: List[str],
        n: int,
        timeout: Optional[float] = None,
        key: Optional[str] = None,
    ) -> Any:
        """csp-stream adapter (reference `client/csp_stream.py:35-100`):
        subscribe, gather ``n`` ticks, and hand them back in the
        client's return type with a ``channel`` column — the WS feed
        re-materialized as a DataFrame."""
        ws = self.stream(channels, key=key)
        rows: List[dict] = []
        try:
            while len(rows) < n:
                msg = ws.recv_json()
                if msg.get("channel") and isinstance(msg.get("data"), dict):
                    rows.append({"channel": msg["channel"], **msg["data"]})
        finally:
            ws.close()
        return self._wrap(rows)


def pipe_stream_to_catalog(ws, catalog, channel_map: Optional[Dict[str, str]] = None, n: Optional[int] = None) -> int:
    """Re-inject a WS subscription into a local ChannelCatalog — the
    other half of the csp-stream adapter (reference wires the WS feed
    back into a running csp graph).  ``channel_map`` renames channels
    on the way in; returns the number of ticks forwarded."""
    forwarded = 0
    while n is None or forwarded < n:
        try:
            msg = ws.recv_json()
        except Exception:  # noqa: BLE001 — socket closed/timeout ends the pipe
            break
        channel, data = msg.get("channel"), msg.get("data")
        if not channel or not isinstance(data, dict):
            continue
        target = (channel_map or {}).get(channel, channel)
        # keep only fields the target channel declares; wire-stamped
        # id/timestamp are re-stamped on the local send
        schema = catalog._schemas.get(target)
        if schema is not None:
            declared = set(schema.fieldNames())
            data = {k: v for k, v in data.items() if k in declared}
        catalog.send_rows(target, [data])
        forwarded += 1
    return forwarded


class AsyncGatewayClient:
    """Async client mirroring ``GatewayClient`` (reference generates a
    parallel async client, `client.py:334-381`).

    Uses httpx.AsyncClient when installed; otherwise each request runs
    the stdlib transport in a worker thread via ``asyncio.to_thread``
    (still truly awaitable/concurrent — the event loop never blocks).
    """

    def __init__(
        self,
        base_url: str,
        timeout: float = 30.0,
        return_type: str = "raw",
        api_key: Optional[str] = None,
        headers: Optional[Dict[str, str]] = None,
    ):
        self._sync = GatewayClient(
            base_url, timeout=timeout, return_type=return_type, api_key=api_key, headers=headers
        )
        try:
            import httpx  # type: ignore[import-not-found]

            self._httpx = httpx.AsyncClient(timeout=timeout)
        except ImportError:
            self._httpx = None

    async def aclose(self) -> None:
        self._sync.close()
        if self._httpx is not None:
            await self._httpx.aclose()

    async def __aenter__(self) -> "AsyncGatewayClient":
        return self

    async def __aexit__(self, *exc) -> None:
        await self.aclose()

    # --- transport ---------------------------------------------------
    async def _get(self, path: str, params: Optional[Dict[str, str]] = None) -> Any:
        if self._httpx is not None:
            r = await self._httpx.get(
                f"{self._sync.base_url}{path}", params=params, headers=self._sync.headers
            )
            r.raise_for_status()
            return r.json()
        return await asyncio.to_thread(self._sync._request, "GET", path, params)

    async def _post(self, path: str, payload: Any) -> Any:
        if self._httpx is not None:
            r = await self._httpx.post(
                f"{self._sync.base_url}{path}", json=payload, headers=self._sync.headers
            )
            r.raise_for_status()
            return r.json()
        return await asyncio.to_thread(self._sync._request, "POST", path, payload=payload)

    def _wrap(self, rows: List[dict]) -> Any:
        return self._sync._wrap(rows)

    # --- api (same shapes as the sync client) ------------------------
    async def last(self, channel: str, key: Optional[str] = None) -> Any:
        return self._wrap(await self._get(GatewayClient._k(f"/api/v1/last/{channel}", key)))

    async def state(
        self, channel: str, query: Optional[Query] = None, key: Optional[str] = None, **filter_kwargs
    ) -> Any:
        params = None
        if query is None and filter_kwargs:
            query = Query(
                filters=[Filter(attr=k, op="==", value=v) for k, v in filter_kwargs.items()]
            )
        if query is not None:
            params = {"query": query.model_dump_json(exclude_none=True)}
        return self._wrap(await self._get(GatewayClient._k(f"/api/v1/state/{channel}", key), params))

    async def send(self, channel: str, payload: Any, key: Optional[str] = None) -> Any:
        return self._wrap(await self._post(GatewayClient._k(f"/api/v1/send/{channel}", key), payload))

    async def lookup(self, channel: str, record_id: str) -> Any:
        return self._wrap(await self._get(f"/api/v1/lookup/{channel}/{record_id}"))

    async def next(self, channel: str, timeout: Optional[float] = None, key: Optional[str] = None) -> Any:
        params = {"timeout": str(timeout)} if timeout is not None else None
        return self._wrap(await self._get(GatewayClient._k(f"/api/v1/next/{channel}", key), params))

    async def heartbeat(self) -> dict:
        return await self._get("/api/v1/controls/heartbeat")

    async def stats(self) -> dict:
        return await self._get("/api/v1/controls/stats")

    async def channels(self) -> List[str]:
        return await self._get("/api/v1/channels")

"""REST serving surface (SURVEY §2.8).

The routes (reference `web/routes/*`: `/last`, `/state?query=`,
`/lookup`, `/send`, `/next`, `/controls/*`, `/channels`, the
Perspective and auth routes) are one table, ``ROUTES``, of (method, path
template, handler, auth) entries over one handler core, ``GatewayApi``.
One transport serves it: ``GatewayHttpServer``, a stdlib
ThreadingHTTPServer speaking HTTP/1.1, where a client keeps its
connection across requests (`/api/v1/stream` upgrades to a websocket),
and ``GatewayApi.openapi`` is generated from the same table.  The
routes answer rows as JSON through a renderer compiled once per schema
(``_renderer``); ``_jsonable`` renders nested values and rows without a
known schema.

Row-level auth filtering (reference `auth_filter.py:533-571`) is a
serving-layer predicate: pass ``identity_filter={"field": value}`` and
every response is filtered to matching rows; sends whose identity
field mismatches are rejected 403 (`auth_filter.py:280-354`).
"""

from __future__ import annotations

import datetime
import decimal
import functools
import json
import socket
import sys
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Any, Dict, List, NamedTuple, Optional, Tuple, Union
from urllib.parse import parse_qs, urlparse

from pyspark.sql import Row
from pyspark.sql import types as T

from csp_gateway_spark.catalog import ChannelCatalog
from csp_gateway_spark.query import CatalystOnly, Filter, Query, as_string
from csp_gateway_spark.serving.auth import ApiKeyAuth, OAuth2Auth, SimpleAuth, _cookie_dict


def _jsonable(value: Any) -> Any:
    if isinstance(value, Row):
        return {k: _jsonable(v) for k, v in value.asDict().items()}
    if isinstance(value, dict):
        return {k: _jsonable(v) for k, v in value.items()}
    if isinstance(value, (list, tuple)):
        return [_jsonable(v) for v in value]
    if isinstance(value, (datetime.datetime, datetime.date)):
        return value.isoformat()
    if isinstance(value, (bytes, bytearray)):
        return value.hex()
    if isinstance(value, decimal.Decimal):
        return float(value)
    return value


_COPIED = (T.IntegralType, T.StringType, T.FloatType, T.DoubleType, T.BooleanType)


def _field_render(dtype: T.DataType):
    """What ``_jsonable`` does to a non-null value of ``dtype``."""
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType, T.DateType)):
        return lambda v: v.isoformat()
    if isinstance(dtype, T.DecimalType):
        return float
    if isinstance(dtype, T.BinaryType):
        return lambda v: v.hex()
    return _jsonable  # arrays, maps, nested structs and the rest


@functools.lru_cache(maxsize=256)
def _renderer(schema: T.StructType):
    """``_jsonable`` for a row (dict or ``Row``) of ``schema``, compiled
    once per schema: the row is copied and only its fields whose type
    ``_COPIED`` does not cover are rendered."""
    fields = tuple((f.name, _field_render(f.dataType)) for f in schema.fields if not isinstance(f.dataType, _COPIED))

    def render(row) -> dict:
        out = dict(row) if isinstance(row, dict) else row.asDict()
        for name, conv in fields:
            value = out.get(name)
            if value is not None:
                out[name] = conv(value)
        return out

    return render


def parse_query(query_json: Optional[str]) -> Optional[Query]:
    """`query_json` REST param → Query (reference FastAPI query helper, `utils` lines 10-32)."""
    if not query_json:
        return None
    data = json.loads(query_json)
    if isinstance(data, dict) and "filters" in data:
        return Query.model_validate(data)
    if isinstance(data, list):
        return Query(filters=[Filter.model_validate(f) for f in data])
    return Query(filters=[Filter.model_validate(data)])


class ApiError(Exception):
    def __init__(self, status: int, detail: str):
        super().__init__(detail)
        self.status = status
        self.detail = detail


def parse_limit(limit: Optional[Union[int, str]]) -> Optional[int]:
    """The ``limit`` param of `/state` and the Perspective routes: None,
    or a non-negative integer (anything else is a 422)."""
    if limit is None:
        return None
    try:
        lim = int(limit)
    except (TypeError, ValueError):
        raise ApiError(422, f"limit must be an integer, got {limit!r}") from None
    if lim < 0:
        raise ApiError(422, f"limit must be >= 0, got {lim}")
    return lim


def _user_raised_detail(e: Exception):
    """The message of a Spark ``raise_error`` user exception (the
    bounded-contract guards raise these mid-collect), or None if ``e``
    is anything else.  Works from the typed error class when PySpark
    surfaces one and falls back to the wire format
    ``[USER_RAISED_EXCEPTION] <msg> SQLSTATE: ...``."""
    try:
        from pyspark.errors.exceptions.base import PySparkException

        if isinstance(e, PySparkException):
            cls = None
            try:
                cls = e.getErrorClass()
            except Exception:  # noqa: BLE001
                pass
            if cls == "USER_RAISED_EXCEPTION":
                params = {}
                try:
                    params = e.getMessageParameters() or {}
                except Exception:  # noqa: BLE001
                    pass
                return params.get("errorMessage") or str(e)[:500]
    except Exception:  # noqa: BLE001 — never let detection itself fail
        pass
    s = str(e)
    if "USER_RAISED_EXCEPTION" in s:
        tail = s.split("USER_RAISED_EXCEPTION]", 1)[-1]
        return tail.split("SQLSTATE", 1)[0].strip()[:500]
    return None


class NextTickBroker:
    """`/next` blocking-read semantics (reference `futures/adapter.py:
    69-134` + filtered variant `auth_filter.py:355-441`): a request
    parks until the channel's next tick arrives, then all waiters are
    released with that tick; timeout → 408.  One Condition per channel;
    ``publish`` is called by send() and by streaming foreachBatch."""

    def __init__(self):
        self._conditions: Dict[str, threading.Condition] = {}
        self._ticks: Dict[str, tuple] = {}  # channel -> (serial, rows)
        self._lock = threading.Lock()

    def _cond(self, channel: str) -> threading.Condition:
        with self._lock:
            return self._conditions.setdefault(channel, threading.Condition())

    def publish(self, channel: str, rows: List[Any]) -> None:
        cond = self._cond(channel)
        with cond:
            serial, _ = self._ticks.get(channel, (0, None))
            self._ticks[channel] = (serial + 1, rows)
            cond.notify_all()

    def wait_next(self, channel: str, timeout: Optional[float] = None) -> List[Any]:
        cond = self._cond(channel)
        with cond:
            start_serial, _ = self._ticks.get(channel, (0, None))
            ok = cond.wait_for(
                lambda: self._ticks.get(channel, (0, None))[0] > start_serial,
                timeout=timeout,
            )
            if not ok:
                t = f"{timeout:.3f}".rstrip("0").rstrip(".") if timeout is not None else "?"
                raise ApiError(408, f"no tick on {channel!r} within {t}s")
            return self._ticks[channel][1]


class GatewayApi:
    """Transport-agnostic handler core over a ChannelCatalog.

    - ``identity_filter``: row-level auth (reference `auth_filter.py:533-571`).
    - ``api_keys``: request auth — accept via `X-API-Key` header, `token`
      query param, or cookie (reference `middleware/api_key.py:22`,
      multi-key).  Empty list/None ⇒ auth disabled.
    - ``readonly``: reject WS "send" actions (reference websocket
      readonly mode, `websocket.py:250-344`).
    """

    def __init__(
        self,
        catalog: ChannelCatalog,
        identity_filter: Optional[Dict[str, Any]] = None,
        api_keys: Optional[List[str]] = None,
        readonly: bool = False,
        heartbeat_interval: float = 1.0,
        auth: Optional[Any] = None,
    ):
        self.catalog = catalog
        self.identity_filter = identity_filter or {}
        self.api_keys = list(api_keys or [])
        self.readonly = readonly
        self.heartbeat_interval = heartbeat_interval
        self.broker = NextTickBroker()
        from csp_gateway_spark.selection import SubscriptionManager

        self.subs = SubscriptionManager()
        self.fields: Dict[str, Any] = {}  # GET /field/<name> statics
        self.layouts: Dict[str, str] = {}  # perspective workspace layouts
        self.default_layout: Optional[str] = None
        self.outputs_dir: Optional[str] = None  # /outputs file browser root
        # auth middleware (serving/auth.py): explicit instance wins; a bare
        # api_keys list keeps working as an implicit ApiKeyAuth
        if auth is None and self.api_keys:
            auth = ApiKeyAuth(self.api_keys)
        self.auth = auth

    def check_request(
        self,
        headers: Optional[Dict[str, str]] = None,
        cookies: Optional[Dict[str, str]] = None,
        query_params: Optional[Dict[str, str]] = None,
    ) -> Optional[Dict[str, Any]]:
        """Resolve the request's identity through the configured auth
        middleware; 401 when auth is on and no credential validates.
        Returns the identity dict (None when auth is disabled)."""
        if self.auth is None:
            return None
        identity = self.auth.identity_from_request(
            headers=headers, cookies=cookies, query_params=query_params
        )
        if identity is None:
            raise ApiError(401, "unauthorized")
        return identity

    def key_field(self, channel: str) -> Optional[str]:
        keys = self.catalog._state_keys.get(channel)
        return keys[0] if keys and len(keys) == 1 else None

    # --- helpers -----------------------------------------------------
    def _auth_rows(self, rows: List[Row]) -> List[dict]:
        """Identity filter over broker-delivered tick payloads (/next,
        WS pushes), in-memory dicts bounded by one tick.  DataFrame-backed
        routes use ``_plan_filters``; the held-row routes ``_filter_rows``."""
        out = []
        for row in rows:
            d = row.asDict() if isinstance(row, Row) else dict(row)
            if all(d.get(k) == v for k, v in self.identity_filter.items() if k in d):
                out.append(_jsonable(d))
        return out

    def _plan_filters(self, channel: str, df, key: Optional[str] = None, limit: Optional[int] = None):
        """Push per-request predicates INTO the DataFrame plan before
        collect, for the DataFrame-backed routes (`/lookup` on a channel
        that is more than its send log, Perspective, queries the Python
        evaluator leaves to Catalyst) (reference `auth_filter.py:533-571` filters each response's
        rows; SURVEY §2.2 P4 maps that to ``df.filter``):

        - row-level identity filter (only on columns the channel has —
          rows without the field pass, matching the dict-side rule);
        - dict-basket key selection (reference `last.py:18-157`);
        - optional ``limit`` so a route never materializes more rows
          than the client asked for.

        ``_filter_rows`` applies the same steps, in the same order and
        with the same answers, to the rows the catalog holds."""
        from pyspark.sql import functions as F

        for field, value in self.identity_filter.items():
            if field in df.columns:
                df = df.filter(F.col(field) == F.lit(value))
        if key is not None:
            field = self.key_field(channel)
            if field is None:
                raise ApiError(404, f"channel {channel!r} is not keyed")
            df = df.filter(F.col(field).cast("string") == F.lit(key))
        if limit is not None:
            df = df.limit(limit)
        return df

    def _channel_or_404(self, channel: str) -> None:
        """Declared channels are valid even before their first tick
        (a /next waiter may park on a stream that hasn't produced yet)."""
        if channel not in self.catalog._producers:
            raise ApiError(404, f"unknown channel {channel!r}")

    def _collect_or_404(self, channel: str, df_fn) -> List[Row]:
        return self._read_or_404(channel, lambda: df_fn().collect())

    def _read_or_404(self, channel: str, read):
        try:
            return read()
        except ApiError:
            raise
        except Exception as e:  # noqa: BLE001 — unwired: no ticks yet
            detail = _user_raised_detail(e)
            if detail is not None:
                # an operator's in-plan contract guard fired
                # (max_cells / max_fp_frequency raise_error): the
                # caller hit a documented bound, not a server fault —
                # surface the quantize-first message as a structured
                # 422, never a 500/404
                raise ApiError(
                    422, f"operator contract bound hit: {detail}"
                ) from e
            raise ApiError(404, f"no ticks yet on {channel!r}: {e}") from e

    def _filter_rows(
        self,
        channel: str,
        schema,
        rows: List[dict],
        query: Optional[Query] = None,
        key: Optional[str] = None,
        limit: Optional[int] = None,
    ) -> List[dict]:
        """``rows`` of ``schema`` through the query, the identity filter
        (an ``==`` filter per field the channel has), the dict-basket key
        (reference `last.py:18-157`, ``CAST(field AS STRING) = key``) and
        ``limit``, each in that order as ``_plan_filters`` would apply
        them, evaluated in Python: no Spark plan or JVM call.  Raises
        ``CatalystOnly`` for what the evaluator leaves to Catalyst and
        ValueError for what Spark rejects."""
        idents = [Filter(attr=f, value=v) for f, v in self.identity_filter.items() if f in schema.names]
        queries = [query or Query()] + [Query(filters=[f]) for f in idents]
        steps = [q.resolve(schema) for q in queries if q.filters]
        if key is not None:
            field = self.key_field(channel)
            if field is None:
                raise ApiError(404, f"channel {channel!r} is not keyed")
            render = as_string(schema[field].dataType) if field in schema.names else None
            steps.append(lambda rows: [r for r in rows if r.get(field) is not None and render(r[field]) == key])
        for step in steps:  # one filter at a time over every row, as Spark filters a local relation
            rows = step(rows)
        return rows[:limit]

    def _held_rows(
        self,
        channel: str,
        keyed: bool,
        query: Optional[Query] = None,
        key: Optional[str] = None,
        limit: Optional[int] = None,
    ) -> List[dict]:
        """The rows ``catalog.state`` (``keyed``) or ``catalog.last``
        serves, filtered by ``_filter_rows`` on the rows the catalog
        holds.  What the evaluator leaves to Catalyst (``CatalystOnly``)
        runs through ``_plan_filters`` over the same snapshot.  A query
        Spark cannot evaluate is a 422."""
        schema, rows = self._read_or_404(channel, lambda: self.catalog.held(channel, keyed))
        try:
            rows = list(map(_renderer(schema), self._filter_rows(channel, schema, rows, query, key, limit)))
        except CatalystOnly:
            try:  # the snapshot is merged and held: what fails here is the query
                frame = self.catalog.query(channel, query) if keyed else self.catalog.last(channel)
                rows = [_jsonable(r) for r in self._plan_filters(channel, frame, key=key, limit=limit).collect()]
            except ApiError:
                raise
            except Exception as e:  # noqa: BLE001
                raise ApiError(422, f"bad query param: {e}") from e
        except ValueError as e:
            raise ApiError(422, f"bad query param: {e}") from e
        if key is not None and not rows:
            raise ApiError(404, f"key {key!r} not found in {channel!r}")
        return rows

    def _lookup_rows(self, channel: str, record_id: str) -> List[dict]:
        """`/lookup/<ch>/<id>`'s rows.  A channel that is only its send
        log answers from the catalog's id index through the identity
        filter (``_filter_rows``); any other channel, or a filter left
        to Catalyst, runs ``_plan_filters`` over ``catalog.lookup``.
        Failures map as ``_read_or_404`` maps a collect's."""

        def read():
            logged = self.catalog.logged(channel, record_id)
            if logged is not None:
                try:
                    return list(map(_renderer(logged[0]), self._filter_rows(channel, *logged)))
                except CatalystOnly:
                    pass
            return [_jsonable(r) for r in self._plan_filters(channel, self.catalog.lookup(channel, record_id)).collect()]

        return self._read_or_404(channel, read)

    # --- routes ------------------------------------------------------
    def last(self, channel: str, key: Optional[str] = None) -> List[dict]:
        self._channel_or_404(channel)
        return self._held_rows(channel, False, key=key)

    def state(
        self,
        channel: str,
        query_json: Optional[str] = None,
        key: Optional[str] = None,
        limit: Optional[Union[int, str]] = None,
    ) -> List[dict]:
        self._channel_or_404(channel)
        try:
            query = parse_query(query_json)
        except Exception as e:  # noqa: BLE001
            raise ApiError(422, f"bad query param: {e}") from e
        return self._held_rows(channel, True, query, key, parse_limit(limit))

    def lookup(self, channel: str, record_id: str) -> List[dict]:
        self._channel_or_404(channel)
        rows = self._lookup_rows(channel, record_id)
        if not rows:
            raise ApiError(404, f"id {record_id!r} not found in {channel!r}")
        return rows

    def index_html(self) -> str:
        """`GET /` — a minimal dependency-free live view: channel list
        + auto-refreshing state tables over the JSON routes.  NOT the
        reference's Perspective pivot UI (SURVEY §7.4 descopes the
        Perspective wire protocol; see README); it gives a browser a
        usable face over the same data the Perspective routes expose."""
        chans = json.dumps(sorted(self.catalog._producers))
        return (
            "<!doctype html><html><head><meta charset='utf-8'>"
            "<title>csp-gateway-spark</title><style>"
            "body{font-family:monospace;margin:2em}table{border-collapse:collapse;margin:1em 0}"
            "td,th{border:1px solid #999;padding:2px 8px}h2{margin:1em 0 0}"
            "</style></head><body><h1>csp-gateway-spark</h1>"
            "<p>channels (state auto-refreshes every 2s; API under /api/v1, "
            "<a href='/openapi.json'>openapi.json</a>)</p><div id='root'></div>"
            "<script>const CH=" + chans + ";"
            "async function tick(){const root=document.getElementById('root');"
            "for(const ch of CH){let el=document.getElementById('ch-'+ch);"
            "if(!el){el=document.createElement('div');el.id='ch-'+ch;root.appendChild(el);}"
            "try{const r=await fetch('/api/v1/state/'+ch+'?limit=50');"
            "if(!r.ok){el.innerHTML='<h2>'+ch+'</h2><p>'+r.status+'</p>';continue;}"
            "const rows=await r.json();if(!rows.length){el.innerHTML='<h2>'+ch+'</h2><p>no ticks</p>';continue;}"
            "const cols=Object.keys(rows[0]);let h='<h2>'+ch+'</h2><table><tr>';"
            "for(const c of cols)h+='<th>'+c+'</th>';h+='</tr>';"
            "for(const row of rows){h+='<tr>';for(const c of cols)h+='<td>'+String(row[c])+'</td>';h+='</tr>';}"
            "el.innerHTML=h+'</table>';}catch(e){el.innerHTML='<h2>'+ch+'</h2><p>'+e+'</p>';}}}"
            "tick();setInterval(tick,2000);</script></body></html>"
        )

    def lookup_id(self, record_id: str) -> List[dict]:
        """`GET /lookup/id/<id>` — global id lookup across every
        channel (reference `web/routes/lookup.py:70-85`:
        ``global_lookup`` on an in-memory registry of every struct ever
        created): each channel's `/lookup/<ch>/<id>` rows, in channel
        order, skipping channels that answer 404 (unbound or tickless).
        A log-only channel answers from the catalog's id index."""
        rows: List[dict] = []
        for name in sorted(self.catalog._producers):
            try:
                rows += self._lookup_rows(name, record_id)
            except ApiError as e:
                if e.status != 404:
                    raise
        if not rows:
            raise ApiError(404, f"No record found with id: {record_id}")
        return rows

    def send(self, channel: str, payload: Any, key: Optional[str] = None) -> List[dict]:
        rows = payload if isinstance(payload, list) else [payload]
        if key is not None:
            field = self.key_field(channel)
            if field is None:
                raise ApiError(404, f"channel {channel!r} is not keyed")
            rows = [{**row, field: key} for row in rows]
        for row in rows:
            for field, value in self.identity_filter.items():
                if field in row and row[field] != value:
                    raise ApiError(403, f"identity field {field!r} mismatch")
        try:
            echoed, schema, _ = self.catalog._append(channel, rows, None)
        except Exception as e:  # noqa: BLE001
            raise ApiError(422, f"send failed: {e}") from e
        out = list(map(_renderer(schema), echoed))
        self.broker.publish(channel, out)
        self.subs.publish(channel, out, key_field=self.key_field(channel))
        return out

    def next(self, channel: str, timeout: Optional[float] = None, key: Optional[str] = None) -> List[dict]:
        """Block until the channel's next tick (W6 `/next` semantics).
        With ``key``: loop over ticks until one contains a matching
        record or the deadline passes (reference `auth_filter.py:
        355-441` filtered variant)."""
        self._channel_or_404(channel)
        if key is None:
            rows = self.broker.wait_next(channel, timeout=timeout)
            return self._auth_rows(rows) if rows else []
        field = self.key_field(channel)
        if field is None:
            raise ApiError(404, f"channel {channel!r} is not keyed")
        import time as _time

        deadline = None if timeout is None else _time.monotonic() + timeout
        while True:
            remaining = None if deadline is None else max(0.0, deadline - _time.monotonic())
            rows = self.broker.wait_next(channel, timeout=remaining)
            matched = [r for r in self._auth_rows(rows) if str(r.get(field)) == key]
            if matched:
                return matched

    def heartbeat(self) -> dict:
        return {"status": "ok", "time": datetime.datetime.utcnow().isoformat()}

    def stats(self) -> dict:
        """Engine + host stats (reference `controls/controls.py:40-90`:
        hostname/user/pid/cpu/memory, psutil-gated with a stdlib
        resource/os fallback), and ``catalog``: per channel, its
        ``set_channel`` producers, send log rows and batches, and
        snapshot rows (O(keys))."""
        import getpass
        import os
        import socket

        sc = self.catalog.spark.sparkContext
        out = {
            "channels": sorted(self.catalog._producers.keys()),
            "catalog": self.catalog.stats(),
            "spark": {"appName": sc.appName, "parallelism": sc.defaultParallelism},
            "hostname": socket.gethostname(),
            "user": getpass.getuser(),
            "pid": os.getpid(),
            "now": datetime.datetime.now(datetime.timezone.utc).isoformat(),
        }
        try:
            import psutil  # type: ignore[import-not-found]

            out["cpu"] = psutil.cpu_percent()
            out["memory"] = psutil.virtual_memory().percent
        except ImportError:
            try:
                import resource

                out["maxrss_kb"] = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
            except Exception:  # noqa: BLE001 — stats stay best-effort
                pass
        return out

    def channels(self) -> List[str]:
        return sorted(self.catalog._producers.keys())

    def stream_channels(self) -> List[str]:
        """`GET /stream` listing (reference `websocket.py:381-444`):
        channel names plus per-key basket entries as ``channel/key``."""
        out = []
        for name in self.channels():
            out.append(name)
            out.extend(f"{name}/{k}" for k in self.catalog._dynamic_keys.get(name, []))
        return out

    def field(self, name: str) -> Any:
        """Static channel fields (reference `mount_fields.py:10-83`)."""
        if name not in self.fields:
            raise ApiError(404, f"unknown field {name!r}")
        return _jsonable(self.fields[name])

    def _schemas(self) -> Dict[str, Any]:
        """Each channel's schema, skipping channels declared but unwired."""
        out = {}
        for name in self.channels():
            try:
                out[name] = self.catalog.get_channel(name).schema
            except Exception:  # noqa: BLE001 — declared but unwired
                continue
        return out

    def perspective_tables(self) -> Dict[str, Any]:
        """Table discovery (reference `perspective.py:541-627`): one
        entry per channel with its column:type map."""
        return {name: {f.name: f.dataType.simpleString() for f in s.fields} for name, s in self._schemas().items()}

    def perspective_meta(self) -> Dict[str, Any]:
        """Index/limit metadata per table (reference `perspective.py:606-627`);
        index = the state keyby columns (upsert key)."""
        return {
            name: {"index": list(self.catalog._state_keys.get(name, [])) or None}
            for name in self.channels()
        }

    def outputs_entry(self, rel_path: str = "") -> tuple:
        """Outputs-folder browser (reference MountOutputsFolder,
        `web/outputs.py:21-80`): list directories as JSON, stream file
        bytes; paths outside the configured root 404 (traversal guard).
        Returns ("dir", listing) or ("file", bytes)."""
        import os

        if not self.outputs_dir:
            raise ApiError(404, "no outputs dir configured")
        # realpath (not abspath): a symlink under the root pointing outside
        # would pass an abspath prefix check but must not be served
        root = os.path.realpath(self.outputs_dir)
        target = os.path.realpath(os.path.join(root, rel_path)) if rel_path else root
        if not (target == root or target.startswith(root + os.sep)) or not os.path.exists(target):
            raise ApiError(404, f"not found: {rel_path!r}")
        if os.path.isdir(target):
            entries = sorted(os.listdir(target))
            return "dir", {
                "path": rel_path,
                "entries": [
                    {"name": e, "dir": os.path.isdir(os.path.join(target, e))} for e in entries
                ],
            }
        with open(target, "rb") as fh:
            return "file", fh.read()

    def channels_graph(self) -> Dict[str, Any]:
        """Channel wiring introspection (reference MountChannelsGraph,
        `web/channels_graph.py:13-50`): {channel: {getters, setters}}
        built from catalog metadata — the send log (``producer[send]``),
        ``set_channel`` producers, mirrors, keyed state, dict baskets."""
        cat = self.catalog
        mirror_to: Dict[str, List[str]] = {}
        for dst, srcs in cat._mirrors.items():
            for src in srcs:
                mirror_to.setdefault(src, []).append(dst)
        out: Dict[str, Any] = {}
        for name in self.channels():
            setters = ["producer[send]"] if cat._logs[name].batches else []
            setters += [f"producer[{i}]" for i in range(len(cat._producers.get(name, [])))]
            setters += [f"mirror:{src}" for src in cat._mirrors.get(name, [])]
            getters = []
            if name in cat._state_keys:
                getters.append(f"state(keyby={','.join(cat._state_keys[name])})")
            getters += [f"mirror->{dst}" for dst in mirror_to.get(name, [])]
            if cat._dynamic_keys.get(name):
                getters.append(f"basket[{len(cat._dynamic_keys[name])}]")
            out[name] = {"getters": getters, "setters": setters}
        return out

    # --- perspective layouts (reference perspective.py:578-592: saved
    # workspace layouts served to every client; name -> layout JSON str) ---
    def perspective_layouts(self) -> Dict[str, Any]:
        return {"layouts": dict(self.layouts), "default_layout": self.default_layout}

    def perspective_layout_save(self, name: str, layout: Any) -> Dict[str, Any]:
        if not isinstance(layout, str):
            layout = json.dumps(layout)
        self.layouts[name] = layout
        if self.default_layout is None:
            self.default_layout = name
        return {"status": "ok", "name": name}

    def perspective_layout_delete(self, name: str) -> Dict[str, Any]:
        if name not in self.layouts:
            raise ApiError(404, f"unknown layout {name!r}")
        del self.layouts[name]
        if self.default_layout == name:
            self.default_layout = next(iter(self.layouts), None)
        return {"status": "ok", "name": name}

    def perspective_arrow(
        self, channel: str, limit: Optional[Union[int, str]] = None
    ) -> bytes:
        """State snapshot as an Arrow IPC stream (reference wire format:
        `perspective.py:71-100` builds pyarrow Tables and ships record
        batches to the Perspective client).  Row-level auth applies the
        same as the JSON routes."""
        import io

        import pyarrow as pa

        self._channel_or_404(channel)
        lim = parse_limit(limit)
        rows = self._collect_or_404(
            channel,
            lambda: self._plan_filters(channel, self.catalog.query(channel, None), limit=lim),
        )
        table = pa.Table.from_pylist([_jsonable(r) for r in rows])
        sink = io.BytesIO()
        with pa.ipc.new_stream(sink, table.schema) as writer:
            writer.write_table(table)
        return sink.getvalue()

    def perspective_view_compute(
        self, channel: str, config: Optional[Dict[str, Any]] = None,
        limit: Optional[Union[int, str]] = None,
    ) -> List[Dict[str, Any]]:
        """Server-side ViewConfig materialization over the table's
        state (reference `perspective.py:133-142` view configs run in
        the embedded Perspective engine; here SPARK is the pivot
        engine — group_by/split_by/aggregates/sort/filter/expressions
        compile to one distributed plan and only the pivoted grid is
        collected).  Row-level auth filters apply BEFORE aggregation,
        same as the JSON routes."""
        from csp_gateway_spark.operators.pivot import _AGGS, ViewConfig, perspective_view

        self._channel_or_404(channel)
        lim = parse_limit(limit)
        try:
            cfg = ViewConfig(**(config or {}))
        except Exception as e:  # noqa: BLE001 — pydantic validation
            raise ApiError(422, f"bad view config: {e}") from e
        for agg_name in cfg.aggregates.values():
            if agg_name.lower() not in _AGGS:
                raise ApiError(
                    422,
                    f"unsupported aggregate {agg_name!r}; one of {sorted(_AGGS)}",
                )
        # schema-aware pre-validation: resolve the channel's plan once
        # and check every expression / referenced column against it so
        # a typo'd pivot config comes back as a clear 422 naming the
        # available columns, not an escaped analyzer stack.  Plan
        # resolution failures (no ticks yet) fall through to the
        # normal 404 path below.
        plan_df = None
        try:
            plan_df = self._plan_filters(channel, self.catalog.query(channel, None))
        except Exception:  # noqa: BLE001 — unwired channel: defer to collect
            pass
        if plan_df is not None:
            avail = sorted(plan_df.columns)
            for name, expr in cfg.expressions.items():
                try:
                    plan_df.selectExpr(f"{expr} AS `{name}`")
                except Exception as e:  # noqa: BLE001 — analyzer reject
                    first = str(e).strip().splitlines()[0][:200]
                    raise ApiError(
                        422,
                        f"bad expression {name!r} = {expr!r}: {first}; "
                        f"available columns: {avail}",
                    ) from e
            # sort/columns resolve against the AGGREGATED output
            # (agg aliases like sum_px), so only pre-agg references
            # are validated here
            known = set(avail) | set(cfg.expressions)
            # Spark's analyzer resolves columns case-insensitively
            # unless spark.sql.caseSensitive is on — the pre-check
            # must match, or configs the analyzer accepts (e.g. 'SYM'
            # for column 'sym') get a spurious 422 here
            case_sensitive = (
                plan_df.sparkSession.conf.get(
                    "spark.sql.caseSensitive", "false"
                )
                or "false"
            ).lower() == "true"
            known_cmp = known if case_sensitive else {c.lower() for c in known}
            referenced = (
                list(cfg.group_by) + list(cfg.split_by) + list(cfg.aggregates)
                + [c for c, _, _ in cfg.filter]
            )
            for c in referenced:
                if (c if case_sensitive else c.lower()) not in known_cmp:
                    raise ApiError(
                        422,
                        f"unknown column {c!r}; available columns: "
                        f"{sorted(known)}",
                    )
        lim = 1000 if lim is None else lim
        rows = self._collect_or_404(
            channel,
            lambda: perspective_view(
                self._plan_filters(channel, self.catalog.query(channel, None)), cfg
            ).limit(lim),
        )
        return [_jsonable(r) for r in rows]

    def perspective_ui_html(self) -> str:
        """`GET /perspective/ui` — a dependency-free pivot grid over
        the view-compute route: pick a table, group-by / split-by
        columns and an aggregate, and the server-side Spark pivot
        renders as an HTML table.  A basic UI over the same data
        surface the reference's bundled Perspective workspace serves
        (`perspective.py:541-627`); the Perspective websocket wire
        protocol itself remains descoped per SURVEY §7.4."""
        return (
            "<!doctype html><html><head><meta charset='utf-8'>"
            "<title>pivot — csp-gateway-spark</title><style>"
            "body{font-family:monospace;margin:2em}table{border-collapse:collapse;margin:1em 0}"
            "td,th{border:1px solid #999;padding:2px 8px}select,button{margin-right:8px}"
            "</style></head><body><h1>pivot viewer</h1>"
            "<div>table <select id='tbl'></select>"
            " group_by <select id='gb'></select>"
            " split_by <select id='sb'><option value=''>(none)</option></select>"
            " agg <select id='agg'><option>count</option><option>sum</option>"
            "<option>avg</option><option>min</option><option>max</option>"
            "<option>median</option><option>unique</option></select>"
            " of <select id='col'></select>"
            " sort <select id='sd'><option>asc</option><option>desc</option></select>"
            " expr <input id='ex' size='24' placeholder='name=SQL expr (optional)'>"
            " <button onclick='go()'>pivot</button></div>"
            "<div id='grid'></div><script>"
            "let SCHEMAS={};"
            "function esc(s){return String(s).replace(/&/g,'&amp;')"
            ".replace(/</g,'&lt;').replace(/>/g,'&gt;').replace(/\"/g,'&quot;');}"
            "async function init(){SCHEMAS=await (await fetch('/api/v1/perspective/tables')).json();"
            "const t=document.getElementById('tbl');"
            "for(const name of Object.keys(SCHEMAS)){const o=document.createElement('option');o.text=name;t.add(o);}"
            "t.onchange=fill;fill();}"
            "function fill(){const name=document.getElementById('tbl').value;"
            "if(!name)return;const cols=Object.keys(SCHEMAS[name]||{});"
            "for(const id of ['gb','sb','col']){const s=document.getElementById(id);"
            "s.innerHTML=id==='sb'?'<option value=\\'\\'>(none)</option>':'';"
            "for(const c of cols){const o=document.createElement('option');o.text=c;s.add(o);}}}"
            "async function go(){const name=document.getElementById('tbl').value;"
            "const gb=document.getElementById('gb').value,sb=document.getElementById('sb').value;"
            "const agg=document.getElementById('agg').value,col=document.getElementById('col').value;"
            "const sd=document.getElementById('sd').value,ex=document.getElementById('ex').value;"
            "const cfg={group_by:[gb],aggregates:{[col]:agg},sort:[[gb,sd]]};"
            "if(sb&&sb!==gb)cfg.split_by=[sb];"
            "const eq=ex.indexOf('=');"
            "if(eq>0)cfg.expressions={[ex.slice(0,eq).trim()]:ex.slice(eq+1).trim()};"
            "const r=await fetch('/api/v1/perspective/view/'+name,"
            "{method:'POST',headers:{'Content-Type':'application/json'},body:JSON.stringify(cfg)});"
            "const grid=document.getElementById('grid');"
            "if(!r.ok){grid.innerHTML='<p>'+esc(r.status)+' '+esc(await r.text())+'</p>';return;}"
            "const rows=await r.json();if(!rows.length){grid.innerHTML='<p>no rows</p>';return;}"
            "const cols=Object.keys(rows[0]);let h='<table><tr>';"
            "for(const c of cols)h+='<th>'+esc(c)+'</th>';h+='</tr>';"
            "for(const row of rows){h+='<tr>';for(const c of cols)h+='<td>'+esc(row[c])+'</td>';h+='</tr>';}"
            "grid.innerHTML=h+'</table>';}"
            "init();</script></body></html>"
        )

    def openapi(self) -> Dict[str, Any]:
        """OpenAPI document of ``ROUTES``.  A route with a ``<channel>``
        segment is listed once per channel whose schema resolves, with
        the reference's `type_` extra (fully-qualified type name per
        route → client `as_struct`, reference `routes/shared.py:15-37`)."""
        schemas = {name: json.loads(schema.json()) for name, schema in self._schemas().items()}
        paths: Dict[str, Any] = {}
        for method, template, _, _ in ROUTES:
            path = template.replace("*>", ">").replace("<", "{").replace(">", "}")
            op = {"responses": {"200": {"description": "OK"}}}
            if "{channel}" in path:
                for name in schemas:
                    paths.setdefault(path.replace("{channel}", name), {})[method.lower()] = {
                        **op,
                        "type_": f"csp_gateway_spark.channels.{name}",
                    }
            else:
                paths.setdefault(path, {})[method.lower()] = op
        return {
            "openapi": "3.1.0",
            "info": {"title": "csp-gateway-spark", "version": "1.0"},
            "paths": paths,
            "components": {"schemas": schemas},
        }

    def shutdown(self) -> dict:
        """POST /controls/shutdown (reference `controls.py(routes):27-110`)."""
        server = getattr(self, "_http_server", None)
        if server is not None:
            threading.Thread(target=server.stop, daemon=True).start()
        return {"status": "shutting down"}

    # --- auth routes (reference simple.py /login, oauth.py /login
    # /callback /logout /userinfo) ---------------------------------------
    def auth_login_simple(self, username: str, password: str) -> tuple:
        """Form login → (body, Set-Cookie value); 404 when the configured
        middleware is not SimpleAuth."""
        sid = self._middleware(SimpleAuth).login(username, password)
        if sid is None:
            raise ApiError(401, "unauthorized")
        return self._session(sid)

    def _session(self, sid: str) -> tuple:
        """(body, Set-Cookie value) of a new session.  Path=/: RFC 6265
        defaults the path to /api/v1/auth, which would hide the cookie
        from the protected /api/v1/*."""
        return {"status": "ok", "session": sid}, f"{self.auth.cookie_name}={sid}; Path=/; HttpOnly; SameSite=Lax"

    def _middleware(self, kind: type):
        """The auth middleware when it is a ``kind``; 404 otherwise."""
        if not isinstance(self.auth, kind):
            raise ApiError(404, "not found")
        return self.auth

    def auth_login_redirect(self, host: str) -> dict:
        redirect_uri = f"http://{host}/api/v1/auth/callback"
        return {"redirect": self._middleware(OAuth2Auth).authorize_redirect(redirect_uri)}

    def auth_callback(self, code: Optional[str], error: Optional[str], host: str) -> tuple:
        auth = self._middleware(OAuth2Auth)
        if error:
            raise ApiError(400, error)
        if not code:
            raise ApiError(400, "No authorization code provided")
        return self._session(auth.handle_callback(code, f"http://{host}/api/v1/auth/callback"))

    def auth_logout(self, cookies: Optional[Dict[str, str]]) -> dict:
        """Drop the session; 404 when no auth middleware is configured."""
        if self.auth is None:
            raise ApiError(404, "not found")
        self.auth.drop_session((cookies or {}).get(self.auth.cookie_name))
        return {"status": "ok"}


def stream_into_gateway(
    api: GatewayApi,
    channel: str,
    stream,
    trigger_seconds: float = 0.5,
    checkpoint: Optional[str] = None,
):
    """Bridge a streaming DataFrame into the live serving loop
    (reference §3.3: tick → `/last` → WS fan-out): every micro-batch's
    rows become channel ticks — id/timestamp stamped by the catalog,
    `/next` waiters released, WS subscribers fanned out — one
    micro-batch ≙ one engine cycle.

    Scale note: only the micro-batch's OWN rows are collected (the
    serving edge is row-scale by definition — the same place the
    reference crosses from csp into asyncio); the heavy aggregation
    stays distributed (`streaming/state_stream.py`).

    With a ``checkpoint``, a micro-batch Spark re-runs after a restart
    is sent only if its rows were not stored before
    (``ChannelCatalog.applying``)."""

    def on_batch(batch_df, batch_id: int) -> None:
        # PERMISSIVE-mode sources emit all-null rows for corrupt
        # records — drop them before they become ticks
        rows = [r.asDict() for r in batch_df.na.drop("all").collect()]
        with api.catalog.applying(channel, checkpoint, batch_id) as fresh:
            if fresh and rows:
                api.send(channel, rows)

    writer = (
        stream.writeStream.foreachBatch(on_batch)
        .outputMode("append")
        .trigger(processingTime=f"{trigger_seconds} seconds")
    )
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


# ---------------------------------------------------------------------------
# WebSocket session (`/api/v1/stream` after the upgrade)
# ---------------------------------------------------------------------------

class WsSession:
    """One `/stream` connection (reference `modules/web/websocket.py:
    250-344`): JSON actions subscribe/unsubscribe/send; one drainer
    thread per subscription pushes `{"channel": c, "data": row}`
    frames; `heartbeat` is a synthetic per-connection channel ticking
    every ``api.heartbeat_interval`` (reference `websocket.py:161-181`);
    readonly mode rejects sends."""

    def __init__(self, api: GatewayApi, rfile, wfile):
        from csp_gateway_spark.serving import ws as _ws

        self.api = api
        self.ws = _ws
        self.rfile = rfile
        self.wfile = wfile
        self._write_lock = threading.Lock()
        self._subs: Dict[tuple, Any] = {}  # (channel, key) -> Subscription
        self._alive = True

    def _send_json(self, obj: Any) -> None:
        with self._write_lock:
            self.ws.write_frame(self.wfile, json.dumps(obj).encode())

    def _drain(self, channel: str, sub) -> None:
        while self._alive:
            row = sub.queue.get()
            if row is None:  # poison pill from unsubscribe/close
                return
            # row-level auth on the push path too (reference applies the
            # identity filter to websocket frames, auth_filter.py:654+)
            if not self.api._auth_rows([row]):
                continue
            try:
                self._send_json({"channel": channel, "data": row})
            except OSError:
                return

    def _heartbeat(self) -> None:
        import time

        while self._alive and ("heartbeat", "*") in self._subs:
            self._send_json(
                {"channel": "heartbeat", "data": {"time": datetime.datetime.utcnow().isoformat()}}
            )
            time.sleep(self.api.heartbeat_interval)

    def _handle(self, msg: dict) -> None:
        action = msg.get("action")
        channel = msg.get("channel", "")
        key = msg.get("key", "*")
        if action == "subscribe":
            if channel != "heartbeat" and channel not in self.api.channels():
                self._send_json({"error": f"unknown channel {channel!r}"})
                return
            sub = self.api.subs.subscribe(channel, key=key)
            self._subs[(channel, key)] = sub
            if channel == "heartbeat":
                threading.Thread(target=self._heartbeat, daemon=True).start()
            else:
                threading.Thread(target=self._drain, args=(channel, sub), daemon=True).start()
        elif action == "unsubscribe":
            sub = self._subs.pop((channel, key), None)
            if sub is not None:
                self.api.subs.unsubscribe(sub)
                sub.queue.put(None)
        elif action == "send":
            if self.api.readonly:
                self._send_json({"error": "gateway is readonly"})
                return
            try:
                self.api.send(channel, msg.get("data"))
            except ApiError as e:
                self._send_json({"error": e.detail})
        else:
            self._send_json({"error": f"unknown action {action!r}"})

    def run(self) -> None:
        try:
            while True:
                opcode, payload = self.ws.read_frame(self.rfile)
                if opcode == self.ws.OP_CLOSE:
                    break
                if opcode == self.ws.OP_PING:
                    with self._write_lock:
                        self.ws.write_frame(self.wfile, payload, self.ws.OP_PONG)
                    continue
                if opcode != self.ws.OP_TEXT:
                    continue
                try:
                    self._handle(json.loads(payload))
                except json.JSONDecodeError:
                    self._send_json({"error": "malformed JSON message"})
        except (ConnectionError, OSError):
            pass
        finally:
            self._alive = False
            for sub in self._subs.values():
                self.api.subs.unsubscribe(sub)
                sub.queue.put(None)


# ---------------------------------------------------------------------------
# Routes: one table for the HTTP server and openapi()
# ---------------------------------------------------------------------------

_JSON = "application/json"
_HTML = "text/html; charset=utf-8"
_HANDLED = object()  # the handler wrote its own answer (a websocket upgrade)
_POLL_S = 0.05  # serve_forever's shutdown poll: the most stop() waits


class Reply(NamedTuple):
    """An answer other than a bare JSON body: text or bytes of
    ``content_type``, or JSON with extra headers."""

    body: Any
    content_type: str = _JSON
    headers: Optional[Dict[str, str]] = None


def _state(api: GatewayApi, req, channel: str, *key: str):
    return api.state(channel, req.query.get("query"), *key, limit=req.query.get("limit"))


def _next(api: GatewayApi, req, channel: str, *key: str):
    t = req.query.get("timeout")
    try:
        timeout = float(t) if t else 30.0
    except ValueError:
        raise ApiError(422, f"timeout must be a number, got {t!r}") from None
    return api.next(channel, timeout, *key)


def _send(api: GatewayApi, req, channel: str, *key: str):
    return api.send(channel, req.json_body(), *key)


def _outputs(api: GatewayApi, req, *path: str):
    kind, payload = api.outputs_entry("/".join(path))
    return payload if kind == "dir" else Reply(payload, "application/octet-stream")


def _arrow(api: GatewayApi, req, channel: str):
    return Reply(api.perspective_arrow(channel, req.query.get("limit")), "application/vnd.apache.arrow.stream")


def _view(api: GatewayApi, req, channel: str):
    return api.perspective_view_compute(channel, req.json_body(), req.query.get("limit"))


def _login(api: GatewayApi, req):
    payload = req.json_body(b"{}")
    if not isinstance(payload, dict):
        raise ApiError(422, "login body must be a JSON object")
    body, cookie = api.auth_login_simple(payload.get("username", ""), payload.get("password", ""))
    return Reply(body, headers={"Set-Cookie": cookie})


def _callback(api: GatewayApi, req):
    body, cookie = api.auth_callback(req.query.get("code"), req.query.get("error"), req.host)
    return Reply(body, headers={"Set-Cookie": cookie})


# (method, path template, handler, auth).  ``<name>`` matches one path
# segment and ``<name*>`` the rest of the path, none or more segments.
# The handler is called as ``handler(api, request, *segments)`` and
# looks its ``GatewayApi`` method up when called.  ``auth``: the request
# must pass ``api.check_request``.  The first entry that matches
# answers, so ``/lookup/id/<id>`` comes before ``/lookup/<channel>/<id>``.
ROUTES = (
    ("GET", "/", lambda api, req: Reply(api.index_html(), _HTML), False),
    ("GET", "/openapi.json", lambda api, req: api.openapi(), True),
    ("POST", "/api/v1/auth/login", _login, False),
    ("GET", "/api/v1/auth/login", lambda api, req: api.auth_login_redirect(req.host), False),
    ("GET", "/api/v1/auth/callback", _callback, False),
    ("GET", "/api/v1/auth/logout", lambda api, req: api.auth_logout(req.cookies), False),
    ("GET", "/api/v1/auth/userinfo", lambda api, req: _jsonable(req.identity or {}), True),
    ("GET", "/api/v1/stream", lambda api, req: _HANDLED if req.websocket() else api.stream_channels(), True),
    ("GET", "/api/v1/last/<channel>", lambda api, req, channel: api.last(channel), True),
    ("GET", "/api/v1/last/<channel>/<key>", lambda api, req, channel, key: api.last(channel, key), True),
    ("GET", "/api/v1/state/<channel>", _state, True),
    ("GET", "/api/v1/state/<channel>/<key>", _state, True),
    ("GET", "/api/v1/lookup", lambda api, req: api.channels(), True),  # reference `lookup.py:57-69`
    ("GET", "/api/v1/lookup/id/<id>", lambda api, req, rid: api.lookup_id(rid), True),
    ("GET", "/api/v1/lookup/<channel>/<id>", lambda api, req, channel, rid: api.lookup(channel, rid), True),
    ("GET", "/api/v1/next/<channel>", _next, True),
    ("GET", "/api/v1/next/<channel>/<key>", _next, True),
    ("POST", "/api/v1/send/<channel>", _send, True),
    ("POST", "/api/v1/send/<channel>/<key>", _send, True),
    ("GET", "/api/v1/controls/heartbeat", lambda api, req: api.heartbeat(), True),
    ("GET", "/api/v1/controls/stats", lambda api, req: api.stats(), True),
    ("POST", "/api/v1/controls/shutdown", lambda api, req: api.shutdown(), True),
    ("GET", "/api/v1/channels", lambda api, req: api.channels(), True),
    ("GET", "/api/v1/channels_graph", lambda api, req: api.channels_graph(), True),
    ("GET", "/api/v1/field/<name>", lambda api, req, name: api.field(name), True),
    ("GET", "/api/v1/outputs/<path*>", _outputs, True),
    ("GET", "/api/v1/perspective/tables", lambda api, req: api.perspective_tables(), True),
    ("GET", "/api/v1/perspective/meta", lambda api, req: api.perspective_meta(), True),
    ("GET", "/api/v1/perspective/layouts", lambda api, req: api.perspective_layouts(), True),
    ("POST", "/api/v1/perspective/layouts/<name>", lambda api, req, name: api.perspective_layout_save(name, req.json_body()), True),
    ("DELETE", "/api/v1/perspective/layouts/<name>", lambda api, req, name: api.perspective_layout_delete(name), True),
    ("GET", "/api/v1/perspective/arrow/<channel>", _arrow, True),
    ("POST", "/api/v1/perspective/view/<channel>", _view, True),
    ("GET", "/api/v1/perspective/ui", lambda api, req: Reply(api.perspective_ui_html(), _HTML), True),
)


def _pattern(template: str) -> Tuple[List[str], bool]:
    """A template's segments before any ``<name*>``, and whether it ends
    with one."""
    want = [w for w in template.split("/") if w]
    rest = bool(want) and want[-1].endswith("*>")
    return (want[:-1] if rest else want), rest


# ``ROUTES`` with each template split once: (method, head, rest, handler, auth)
_PATTERNS = tuple((method, *_pattern(template), handler, auth) for method, template, handler, auth in ROUTES)


def _match(head: List[str], rest: bool, parts: List[str]) -> Optional[List[str]]:
    """The path segments a ``_pattern``'s parameters take, or None when
    ``parts`` does not match it."""
    if len(parts) < len(head) or (len(parts) > len(head) and not rest):
        return None
    params = []
    for w, p in zip(head, parts):
        if w.startswith("<"):
            params.append(p)
        elif w != p:
            return None
    return params + parts[len(head) :]


class _Handler(BaseHTTPRequestHandler):
    """The requests of one kept HTTP/1.1 connection: for each, the first
    ``ROUTES`` entry that matches answers, an ``ApiError`` its status
    with ``{"detail": ...}``.  TCP_NODELAY is set, or each answer's body
    would wait out the client's delayed ACK of its headers."""

    api: GatewayApi
    protocol_version = "HTTP/1.1"
    disable_nagle_algorithm = True

    def log_message(self, *args):  # quiet
        pass

    def _dispatch(self) -> None:
        if self.server.closed:  # read after stop(): not answered
            self.close_connection = True
            return
        self._raw: Optional[bytes] = None
        parsed = urlparse(self.path)
        parts = [p for p in parsed.path.split("/") if p]
        self.query = {k: v[0] for k, v in parse_qs(parsed.query).items()}
        self.cookies = _cookie_dict(self.headers.get("Cookie", ""))
        self.host = self.headers.get("Host", "localhost")
        try:
            for method, head, rest, handler, auth in _PATTERNS:
                params = _match(head, rest, parts) if method == self.command else None
                if params is not None:
                    self.identity = self._check() if auth else None
                    return self._answer(200, handler(self.api, self, *params))
            if parts[:2] == ["api", "v1"] and parts[2:3] != ["auth"]:
                self._check()  # an anonymous caller learns no route: 401 before 404
            raise ApiError(404, "not found")
        except ApiError as e:
            return self._answer(e.status, {"detail": e.detail})
        except Exception as e:  # noqa: BLE001
            return self._answer(500, {"detail": str(e)})

    do_GET = do_POST = do_DELETE = _dispatch

    def _check(self) -> Optional[Dict[str, Any]]:
        return self.api.check_request(headers=dict(self.headers.items()), cookies=self.cookies, query_params=self.query)

    def _answer(self, status: int, out: Any) -> None:
        if out is _HANDLED:
            return
        if self._raw is None:  # the next request starts after this one's body
            try:
                self._body()
            except ApiError:  # its length is unknown: the connection closes
                pass
        out = out if isinstance(out, Reply) else Reply(out)
        body = json.dumps(out.body) if out.content_type == _JSON else out.body
        data = body.encode() if isinstance(body, str) else body
        self.send_response(status)
        self.send_header("Content-Type", out.content_type)
        self.send_header("Content-Length", str(len(data)))
        for k, v in (out.headers or {}).items():
            self.send_header(k, v)
        if self.close_connection:
            self.send_header("Connection", "close")
        self.end_headers()
        self.wfile.write(data)

    def _body(self) -> bytes:
        """The request body, read once.  A malformed Content-Length is a
        422 and closes the connection: where the next request starts is
        unknown."""
        if self._raw is None:
            length = self.headers.get("Content-Length", "0")
            if not length.isdecimal():
                self.close_connection = True
                raise ApiError(422, f"malformed Content-Length: {length!r}")
            self._raw = self.rfile.read(int(length))
        return self._raw

    def json_body(self, empty: bytes = b"null") -> Any:
        """The request body as JSON (``empty`` when there is none); a
        malformed Content-Length or body is a 422."""
        try:
            return json.loads(self._body() or empty)
        except ValueError as e:
            raise ApiError(422, f"malformed JSON body: {e}") from e

    def websocket(self) -> bool:
        """Serve a ``WsSession`` when the request asks for a websocket."""
        if self.headers.get("Upgrade", "").lower() != "websocket":
            return False
        from csp_gateway_spark.serving.ws import accept_key

        self.send_response(101, "Switching Protocols")
        self.send_header("Upgrade", "websocket")
        self.send_header("Connection", "Upgrade")
        self.send_header("Sec-WebSocket-Accept", accept_key(self.headers["Sec-WebSocket-Key"]))
        self.end_headers()
        WsSession(self.api, self.rfile, self.wfile).run()
        self.close_connection = True  # the socket was the session's
        return True


class _Server(ThreadingHTTPServer):
    """``ThreadingHTTPServer`` that keeps its open connections, so that
    ``server_close`` ends the kept ones, and that does not report a
    connection its client dropped."""

    def __init__(self, *args):
        self.closed = False
        self._conns: set = set()
        self._conns_lock = threading.Lock()
        super().__init__(*args)

    def get_request(self):
        conn, addr = super().get_request()
        with self._conns_lock:
            self._conns.add(conn)
        return conn, addr

    def shutdown_request(self, request) -> None:
        with self._conns_lock:
            self._conns.discard(request)
        super().shutdown_request(request)

    def server_close(self) -> None:
        """Close the listener and end every connection's reads: a
        handler waiting for the next request wakes to its end, one
        answering a request still writes its answer."""
        self.closed = True
        super().server_close()
        with self._conns_lock:
            for conn in self._conns:
                try:
                    conn.shutdown(socket.SHUT_RD)
                except OSError:
                    pass

    def handle_error(self, request, client_address) -> None:
        if not isinstance(sys.exc_info()[1], (ConnectionResetError, BrokenPipeError)):
            super().handle_error(request, client_address)


class GatewayHttpServer:
    """Threaded stdlib HTTP/1.1 server answering ``ROUTES`` over a
    GatewayApi; a client keeps its connection across requests, and
    ``stop()`` ends the kept connections."""

    def __init__(self, api: GatewayApi, host: str = "127.0.0.1", port: int = 0):
        self.api = api
        self._server = _Server((host, port), type("Handler", (_Handler,), {"api": api}))
        self._thread: Optional[threading.Thread] = None

    @property
    def port(self) -> int:
        return self._server.server_address[1]

    def start(self) -> "GatewayHttpServer":
        self.api._http_server = self  # enables POST /controls/shutdown
        self._thread = threading.Thread(target=self._server.serve_forever, args=(_POLL_S,), daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._server.shutdown()
        self._server.server_close()

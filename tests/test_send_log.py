"""The send log: ``get_channel`` serves exactly the admitted sent rows,
and `/lookup` answers a log-only channel from the id index with the
rows the Spark path (``_plan_filters`` over ``catalog.lookup``) gives."""

import collections
import datetime

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from csp_gateway_spark.catalog import ChannelCatalog
from csp_gateway_spark.serving.app import ApiError, GatewayApi, _jsonable

KV = T.StructType([T.StructField("k", T.LongType()), T.StructField("v", T.LongType())])
KVW = T.StructType([*KV.fields, T.StructField("w", T.StringType())])
STAMPED = "k long, v long, id string, timestamp timestamp"
T0 = datetime.datetime(2026, 1, 1)
INSTANTS = [None, T0 - datetime.timedelta(seconds=1), T0, T0 + datetime.timedelta(seconds=1)]
ABSENT = object()
SENT_TO = ["a", "b", "m"]  # a: log-only; b: blocked until T0, takes set_channel producers; m: mirror of a


@st.composite
def steps(draw):
    """Up to 6 steps: sends of 1-4 rows (explicit ids from a pool of two,
    so ids repeat within and across sends and channels; timestamps
    stamped, null or around the block instant), a send that adds a
    column, and ``set_channel`` producers on ``b``."""
    out = []
    for _ in range(draw(st.integers(1, 6))):
        kind = draw(st.sampled_from(["send", "send", "send", "wide", "set"]))
        rows = []
        for _ in range(draw(st.integers(1, 4))):
            row = {"k": draw(st.none() | st.integers(0, 3)), "v": draw(st.integers(0, 2))}
            if kind == "set":
                row["id"] = draw(st.sampled_from(["x0", "x1", "p"]))
                row["timestamp"] = draw(st.sampled_from(INSTANTS))
            else:
                ts = draw(st.sampled_from([ABSENT] + INSTANTS))
                if ts is not ABSENT:
                    row["timestamp"] = ts
                if draw(st.booleans()):
                    row["id"] = draw(st.sampled_from(["x0", "x1"]))
                if kind == "wide":
                    row["w"] = draw(st.sampled_from(["w0", None]))
            rows.append(row)
        out.append((kind, "b" if kind == "set" else draw(st.sampled_from(SENT_TO)), rows))
    return out


def _admitted(channel, rows):
    return [r for r in rows if channel != "b" or (r["timestamp"] is not None and r["timestamp"] >= T0)]


def _multiset(rows, columns):
    return collections.Counter(tuple(r.get(c) for c in columns) for r in rows)


def _spark_lookup(api, cat, channel, record_id):
    """`/lookup/<ch>/<id>` as the Spark path answers it."""
    try:
        rows = api._plan_filters(channel, cat.lookup(channel, record_id)).collect()
    except Exception:  # noqa: BLE001 — the route's 404
        return 404
    return [_jsonable(r) for r in rows] or 404


def _route(fn, *args):
    try:
        return fn(*args)
    except ApiError as e:
        return e.status


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(steps())
@example([("send", "m", [{"k": 1, "v": 0}])])  # a mirror whose source has no provider
def test_send_log_serves_sent_rows_and_lookups(spark, steps):
    cat = ChannelCatalog(spark)
    for name in ("a", "b"):
        cat.declare(name, KV)
        cat.declare_state(name, "k")
    cat.block_set_channels_until("b", T0)
    cat.mirror("a", "m")
    sent = {name: [] for name in SENT_TO}
    for kind, channel, rows in steps:
        if kind == "set":
            frame = spark.createDataFrame([tuple(r.values()) for r in rows], STAMPED)
            cat.set_channel(channel, frame)
            sent[channel] += _admitted(channel, rows)
        else:
            echoed = cat.send_rows(channel, rows, schema=KVW if kind == "wide" else None)
            sent[channel] += _admitted(channel, [r.asDict() for r in echoed])
    sent["m"] += sent["a"]
    for name in SENT_TO:
        if not sent[name]:
            continue
        served = cat.get_channel(name)
        got = [r.asDict() for r in served.collect()]
        assert _multiset(got, served.columns) == _multiset(sent[name], served.columns), name

    stamped = sorted(r["id"] for rows in sent.values() for r in rows if r["id"] not in ("x0", "x1", "p"))
    ids = ["x0", "x1", "p", "absent"] + stamped[:1]  # repeated, set_channel-only, absent, one unique
    if sent["a"] and all(kind != "wide" or channel != "a" for kind, channel, _ in steps):
        assert cat.logged("a", "absent") is not None  # the held path answers the log-only channel
    for identity in ({}, {"v": 1}):
        api = GatewayApi(cat, identity_filter=identity)
        for record_id in ids:
            spark_rows = {name: _spark_lookup(api, cat, name, record_id) for name in sorted(cat._producers)}
            for name in SENT_TO:
                assert _route(api.lookup, name, record_id) == spark_rows[name], (name, record_id, identity)
            found = [r for rows in spark_rows.values() if rows != 404 for r in rows]
            assert _route(api.lookup_id, record_id) == (found or 404), (record_id, identity)

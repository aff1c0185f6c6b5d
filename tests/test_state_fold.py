"""Serving snapshots: the catalog holds one keyed-last snapshot and one
last-tick snapshot per channel on the driver, merged as ticks arrive,
and serves them as local relations instead of re-aggregating every send
on each read."""

import datetime
import decimal
import sys
import threading

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from csp_gateway_spark.catalog import FOLD_ORDER, ChannelCatalog
from csp_gateway_spark.operators.state import keyed_last, last_tick
from csp_gateway_spark.serving.app import ApiError, GatewayApi, _jsonable

KV = T.StructType([T.StructField("k", T.LongType()), T.StructField("v", T.LongType())])
T0 = datetime.datetime(2026, 1, 1)


def _rows(df):
    return [tuple(r) for r in df.collect()]


def _nulls_first(value):
    return (value is not None, value)


def _model(sent, keyed):
    """Client-side keyed-last: the latest row by (timestamp, id), a null
    timestamp lowest; keys ascending, null first."""
    order = sorted(sent, key=lambda r: (_nulls_first(r["timestamp"]), r["id"]))
    if not keyed:
        return [tuple(order[-1].values())]
    by_key = {}
    for r in order:
        by_key[r["k"]] = r
    return [tuple(by_key[k].values()) for k in sorted(by_key, key=_nulls_first)]


ABSENT = object()


@st.composite
def sends(draw):
    """Up to 5 steps.  A send is up to 6 rows: keys from a small space
    with nulls (duplicates within a send), timestamps stamped by the
    catalog, given as null, or given from a few instants (ties, and ticks
    older than earlier sends), and some rows with their own unique id,
    drawn out of send order.  Between sends, a ``set_channel`` producer of
    up to 3 rows that carry their own id and timestamp."""
    pool = iter(draw(st.permutations(range(40))))
    instants = [T0, T0 + datetime.timedelta(seconds=1), T0 - datetime.timedelta(days=1)]
    keys = st.none() | st.integers(0, 3)
    out = []
    for step in range(draw(st.integers(1, 5))):
        if step and draw(st.integers(0, 3)) == 0:
            rows = [
                {
                    "k": draw(keys),
                    "v": draw(st.integers(0, 99)),
                    "id": f"u{next(pool):02d}",
                    "timestamp": draw(st.sampled_from([None] + instants)),
                }
                for _ in range(draw(st.integers(1, 3)))
            ]
            out.append(("set", rows))
            continue
        batch = []
        for _ in range(draw(st.integers(1, 6))):
            row = {"k": draw(keys), "v": draw(st.integers(0, 99))}
            ts = draw(st.sampled_from([ABSENT, None] + instants))
            if ts is not ABSENT:
                row["timestamp"] = ts
            if draw(st.booleans()):
                row["id"] = f"u{next(pool):02d}"
            batch.append(row)
        out.append(("send", batch))
    return out


@given(sends())
@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_fold_equals_full_recompute(spark, steps):
    cat = ChannelCatalog(spark)
    cat.declare("c", KV)
    cat.declare_state("c", "k")
    sent = []
    for kind, rows in steps:
        if kind == "set":
            cat.set_channel("c", spark.createDataFrame([tuple(r.values()) for r in rows], "k long, v long, id string, timestamp timestamp"))
            sent += rows
        else:
            echoed = cat.send_rows("c", rows)
            sent += [r.asDict() for r in echoed]
        history = cat.get_channel("c")
        state, last = _rows(cat.state("c")), _rows(cat.last("c"))
        assert state == _rows(keyed_last(history, ["k"], order_by=FOLD_ORDER)) == _model(sent, True)
        assert last == _rows(last_tick(history, order_by=FOLD_ORDER)) == _model(sent, False)


def test_later_row_of_one_send_wins(spark):
    cat = ChannelCatalog(spark)
    cat.declare("c", KV)
    cat.declare_state("c", "k")
    cat.send("c", [{"k": 1, "v": v} for v in range(8)])
    assert [(r.k, r.v) for r in cat.state("c").collect()] == [(1, 7)]
    assert cat.last("c").collect()[0].v == 7


def _served_rows(df):
    """Rows of the one LocalRelation a served frame's plan reads."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    assert leaves.size() == 1 and leaves.apply(0).nodeName() == "LocalRelation"
    return leaves.apply(0).data().size()


def test_reads_use_the_fold_not_history(spark):
    cat = ChannelCatalog(spark)
    cat.declare("c", KV)
    cat.declare_state("c", "k")
    for i in range(6):
        cat.send("c", [{"k": i % 3, "v": i}])
    state, last = cat.state("c"), cat.last("c")
    assert cat.state("c") is state and cat.last("c") is last  # nothing new: same frame
    assert _served_rows(state) == 3 and _served_rows(last) == 1  # not the 6 sends
    # the per-send deltas are JVM-local relations: no Python worker on re-read
    history = cat.get_channel("c")._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in history and "LocalTableScan" in history


def test_reads_after_a_send_launch_no_job(spark):
    cat = ChannelCatalog(spark)
    cat.declare("c", KV)
    cat.declare_state("c", "k")
    api = GatewayApi(cat)
    sc = spark.sparkContext
    for i in range(4):
        api.send("c", [{"k": k, "v": i} for k in range(5)])
        sc.setJobGroup("served-reads", "reads")
        try:
            state = api.state("c")
            queried = api.state("c", query_json='{"filters": [{"attr": "k", "op": "<=", "value": 2}]}')
            last = api.last("c")
            assert not sc.statusTracker().getJobIdsForGroup("served-reads")  # no job to read
        finally:
            sc.setJobGroup("", "")
        assert [(r["k"], r["v"]) for r in state] == [(k, i) for k in range(5)]
        assert [r["k"] for r in queried] == [0, 1, 2]
        assert (last[0]["k"], last[0]["v"]) == (4, i)
    assert _served_rows(cat.state("c")) == 5 and _served_rows(cat.last("c")) == 1


def test_set_channel_producers_join_the_fold(spark):
    cat = ChannelCatalog(spark)
    cat.declare("c", KV)
    cat.declare_state("c", "k")
    cat.send("c", [{"k": 1, "v": 1}, {"k": 2, "v": 2}])
    assert len(cat.state("c").collect()) == 2
    late = T0 + datetime.timedelta(days=365 * 100)
    cat.set_channel("c", spark.createDataFrame([(2, 20, "x", late), (3, 30, "y", late)], "k long, v long, id string, timestamp timestamp"))
    assert [(r.k, r.v) for r in cat.state("c").collect()] == [(1, 1), (2, 20), (3, 30)]
    assert cat.last("c").collect()[0].v == 30


def test_block_filter_applies_before_the_fold(spark):
    cat = ChannelCatalog(spark)
    cat.declare("c", KV)
    cat.declare_state("c", "k")
    cat.block_set_channels_until("c", T0)
    cat.send("c", [{"k": 1, "v": 1, "timestamp": T0 - datetime.timedelta(seconds=1)}, {"k": 2, "v": 2, "timestamp": T0}])
    assert [(r.k, r.v) for r in cat.state("c").collect()] == [(2, 2)]


def test_mirror_composes_source_and_own_folds(spark):
    cat = ChannelCatalog(spark)
    cat.declare("src", KV)
    cat.declare_state("src", "k")
    cat.mirror("src", "dst")
    cat.send("src", [{"k": 1, "v": 1, "timestamp": T0}])
    cat.send("dst", [{"k": 1, "v": 2, "timestamp": T0 + datetime.timedelta(seconds=1)}, {"k": 2, "v": 3, "timestamp": T0}])
    want = _rows(keyed_last(cat.get_channel("dst"), ["k"], order_by=FOLD_ORDER))
    assert _rows(cat.state("dst")) == want
    assert [(r[0], r[1]) for r in want] == [(1, 2), (2, 3)]
    assert _rows(cat.state("src")) == _rows(keyed_last(cat.get_channel("src"), ["k"], order_by=FOLD_ORDER))
    cat.send("src", [{"k": 2, "v": 9, "timestamp": T0 + datetime.timedelta(seconds=2)}])
    assert [(r.k, r.v) for r in cat.state("dst").collect()] == [(1, 2), (2, 9)]


def test_concurrent_sends_stamp_unique_ids_and_fold_every_row(spark):
    cat = ChannelCatalog(spark)
    cat.declare("c", KV)
    cat.declare_state("c", "k")
    api = GatewayApi(cat)
    echoed, errors = [], []

    def client(t):
        try:
            for i in range(10):
                echoed.extend(api.send("c", [{"k": (t * 10 + i + j) % 13, "v": t * 100 + i * 10 + j} for j in range(3)]))
                api.state("c")  # reads fold while other threads send
        except Exception as e:  # noqa: BLE001 — reported below
            errors.append(e)

    threads = [threading.Thread(target=client, args=(t,)) for t in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=600)
    finally:
        sys.setswitchinterval(interval)
    assert not any(th.is_alive() for th in threads)
    assert not errors
    ids = [r["id"] for r in echoed]
    assert len(ids) == len(set(ids)) == 8 * 10 * 3
    by_key = {}
    for r in sorted(echoed, key=lambda r: (r["timestamp"], r["id"])):
        by_key[r["k"]] = r
    assert api.state("c") == [by_key[k] for k in sorted(by_key)]


def _persisted(spark):
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_replaced_folds_are_unpersisted(spark):
    cat = ChannelCatalog(spark)
    cat.declare("c", KV)
    cat.declare_state("c", "k")
    api = GatewayApi(cat)
    before = _persisted(spark)
    for i in range(1, 51):
        api.send("c", [{"k": i % 7, "v": i}])
        api.state("c")
        api.last("c")
        assert _persisted(spark) == before  # served frames hold no blocks
    assert cat.stats()["c"] == {"producers": 0, "log_rows": 50, "log_batches": 50, "state_rows": 7, "last_rows": 1}


def test_fold_held_by_a_read_outlives_its_replacement(spark):
    cat = ChannelCatalog(spark)
    cat.declare("c", KV)
    cat.declare_state("c", "k")
    cat.send("c", [{"k": 1, "v": 1}])
    held, held_last = cat.state("c"), cat.last("c")
    cat.send("c", [{"k": 1, "v": 2}])
    assert cat.state("c").collect()[0].v == 2
    assert held.collect()[0].v == 1 and held_last.collect()[0].v == 1  # replaced, still readable


def test_stats_report_bounded_snapshots(spark):
    cat = ChannelCatalog(spark)
    cat.declare("c", KV)
    cat.declare_state("c", "k")
    cat.declare("plain", KV)
    api = GatewayApi(cat)
    for i in range(40):
        api.send("c", [{"k": (i * 3 + j) % 6, "v": i} for j in range(4)])
    stats = api.stats()["catalog"]
    assert stats["c"] == {"producers": 0, "log_rows": 160, "log_batches": 40, "state_rows": 6, "last_rows": 1}
    assert stats["plain"] == {"producers": 0, "log_rows": 0, "log_batches": 0, "state_rows": None, "last_rows": 0}


# --- echo fidelity: the echo and the stored row are what the old
# createDataFrame(list) + collect() echo gave --------------------------

def _old_echo(spark, rows, schema):
    if schema is not None:
        schema = T.StructType(
            list(schema.fields) + [T.StructField("id", T.StringType()), T.StructField("timestamp", T.TimestampType())]
        )
    return spark.createDataFrame(rows, schema=schema).collect()


def _check_echo(spark, schema, payload, validator=None):
    cat = ChannelCatalog(spark)
    cat.declare("c", schema, validator=validator)
    api = GatewayApi(cat)
    sc = spark.sparkContext
    sc.setJobGroup("echo-fidelity", "send")
    try:
        echo = api.send("c", payload)
        assert not sc.statusTracker().getJobIdsForGroup("echo-fidelity")  # no job to echo
    finally:
        sc.setJobGroup("", "")
    # the old path, fed the same validated rows and the stamps they got
    fed = []
    for p, e in zip(payload, echo):
        row = validator(dict(p)) if validator else dict(p)
        row.setdefault("timestamp", datetime.datetime.fromisoformat(e["timestamp"]))
        fed.append({**row, "id": e["id"]})
    old = _old_echo(spark, fed, schema)
    assert echo == [_jsonable(r) for r in old]
    stored = cat.get_channel("c").collect()
    assert stored == old
    assert [r for e in echo for r in api.lookup("c", e["id"])] == echo


def test_echo_matches_collect_for_timestamps(spark):
    aware = datetime.datetime(2026, 3, 4, 5, 6, 7, 89, tzinfo=datetime.timezone(datetime.timedelta(hours=-5)))
    _check_echo(
        spark,
        KV,
        [
            {"k": 1, "v": 1, "timestamp": datetime.datetime(2026, 3, 4, 5, 6, 7, 123456)},
            {"k": 2, "v": 2, "timestamp": aware},
            {"k": 3, "v": 3},
        ],
    )


def test_echo_matches_collect_for_extra_and_missing_fields(spark):
    _check_echo(spark, KV, [{"k": 1, "v": 1, "extra": "dropped"}, {"k": 2}, {}])


def test_echo_matches_collect_for_validator_rewrites(spark):
    def rewrite(row):
        row["v"] = row.get("v", 0) * 10
        row["note"] = "added"
        return row

    _check_echo(spark, KV, [{"k": 1, "v": 1}, {"k": 2, "v": 5}], validator=rewrite)


def test_echo_matches_collect_for_inferred_schema_and_decimals(spark):
    _check_echo(spark, None, [{"name": "a", "x": 1.5, "when": datetime.datetime(2026, 1, 2)}])
    dec = T.StructType([T.StructField("k", T.LongType()), T.StructField("d", T.DecimalType(18, 2))])
    _check_echo(spark, dec, [{"k": 1, "d": decimal.Decimal("1.005")}, {"k": 2, "d": decimal.Decimal("2.015")}, {"k": 3, "d": None}])


def test_bad_payload_still_rejected_422(spark):
    cat = ChannelCatalog(spark)
    cat.declare("c", KV)
    api = GatewayApi(cat)
    with pytest.raises(ApiError) as err:
        api.send("c", [{"k": "not a long", "v": 1}])
    assert err.value.status == 422
    assert "c" in cat._producers and not cat._producers["c"]

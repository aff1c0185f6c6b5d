"""`/state`, `/state?query=` and `/last` answer from the rows the catalog
holds, evaluated in Python: no JVM call, and the same answer the
Catalyst path (``apply_query`` + ``_plan_filters`` collected over
``catalog.state()``/``last()``) gives on the same snapshot."""

import datetime
import decimal
import json
import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from csp_gateway_spark.catalog import ChannelCatalog
from csp_gateway_spark.query import apply_query
from csp_gateway_spark.serving.app import ApiError, GatewayApi, _jsonable, parse_query

KV = T.StructType([T.StructField("k", T.LongType()), T.StructField("v", T.LongType())])


def test_reads_after_a_send_issue_no_py4j_command(spark, monkeypatch):
    cat = ChannelCatalog(spark)
    cat.declare("c", KV)
    cat.declare_state("c", "k")
    api = GatewayApi(cat, identity_filter={"v": 1})
    client = spark.sparkContext._gateway._gateway_client
    real, commands = client.send_command, []

    def counted(command, *args, **kwargs):
        commands.append(command)
        return real(command, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", counted)
    for i in range(3):
        echoed = api.send("c", [{"k": k, "v": 1} for k in range(5)])
        assert [r["k"] for r in api.state("c")] == list(range(5))
        assert [r["k"] for r in api.state("c", query_json='{"attr": "k", "op": "<=", "value": "2"}')] == [0, 1, 2]
        assert [r["k"] for r in api.state("c", key="3")] == [3]
        assert api.last("c")[0]["k"] == 4
        assert api.lookup("c", echoed[2]["id"]) == [echoed[2]]
        assert api.lookup_id(echoed[4]["id"]) == [echoed[4]]
        with pytest.raises(ApiError) as e:
            api.lookup("c", "absent")
        assert e.value.status == 404
        assert not commands, commands
    cat.send("c", [{"k": 9, "v": 1}])  # a DataFrame caller's delta frame
    assert commands  # the counter sees the frame's JVM calls


MIXED = T.StructType(
    [T.StructField("a", T.LongType()), T.StructField("b", T.StringType()), T.StructField("f", T.BooleanType())]
)


@pytest.mark.parametrize(
    "flt",
    [
        {"attr": "b", "op": "<=", "value": 1000},  # CAST_INVALID_INPUT on "b2"
        {"attr": "a", "op": "<=", "value": "x"},  # CAST_INVALID_INPUT on the literal
        {"attr": "f", "op": "==", "value": 1},  # DATATYPE_MISMATCH
    ],
)
def test_unevaluable_query_is_422(spark, flt):
    cat = ChannelCatalog(spark)
    cat.declare("c", MIXED)
    cat.declare_state("c", "a")
    cat.send("c", [{"a": 1, "b": "b2", "f": True}])
    with pytest.raises(ApiError) as e:
        GatewayApi(cat).state("c", query_json=json.dumps(flt))
    assert e.value.status == 422 and e.value.detail.startswith("bad query param")


def test_failing_producer_read_maps_to_422_or_404(spark):
    """A ``set_channel`` producer whose collect fires a contract guard
    answers 422 with the operator's message on every held-row route;
    any other failure is the no-ticks 404, never a 500."""
    from pyspark.sql import functions as F

    msg = "hodges_lehmann: pair-cell space 4000000 exceeds max_cells=2000000 - quantize the values first"
    cat = ChannelCatalog(spark)
    cat.declare("g", KV)
    cat.declare_state("g", "k")
    cat.set_channel("g", spark.range(5).select(
        F.col("id").alias("k"), F.when(F.col("id") > 2, F.raise_error(F.lit(msg))).otherwise(F.col("id")).alias("v")
    ))  # fmt: skip
    cat.declare("b", KV)
    cat.declare_state("b", "k")
    broken = spark.createDataFrame([(1, 0)], "k long, v long")
    cat.set_channel("b", broken.select("k", (F.col("v") / 0).cast("long").alias("v")))  # DIVIDE_BY_ZERO
    api = GatewayApi(cat)
    reads = [
        lambda ch: api.state(ch),
        lambda ch: api.state(ch, query_json='{"attr": "k", "op": "<=", "value": 3}'),
        lambda ch: api.state(ch, key="1"),
        lambda ch: api.last(ch),
    ]
    for read in reads:
        with pytest.raises(ApiError) as e:
            read("g")
        assert e.value.status == 422 and "contract bound" in e.value.detail and "quantize" in e.value.detail
        with pytest.raises(ApiError) as e:
            read("b")
        assert e.value.status == 404 and e.value.detail.startswith("no ticks yet")


# --- the Python path against the Catalyst path --------------------------
WIDE = T.StructType(
    [
        T.StructField("l", T.LongType()),
        T.StructField("i", T.IntegerType()),
        T.StructField("d", T.DoubleType()),
        T.StructField("m", T.DecimalType(18, 4)),
        T.StructField("s", T.StringType()),
        T.StructField("b", T.BooleanType()),
        T.StructField("t", T.TimestampType()),
        T.StructField("dt", T.DateType()),
        T.StructField("st", T.StructType([T.StructField("x", T.LongType()), T.StructField("y", T.StringType())])),
        T.StructField("mp", T.MapType(T.StringType(), T.LongType())),
    ]
)
KEY_COLUMNS = ("s", "l", "i", "b", "dt", "t", "m")  # one channel keyed by each
ATTRS = WIDE.names + ["st.x", "st.y", "zz"]
BIG = [2**53 - 1, 2**53, 2**53 + 1, -(2**63), 2**63 - 1]
T0 = datetime.datetime(2024, 1, 1)
STRINGS = ["", "a", "b2", "2", " 2 ", "2.0", "-0", "1e3", "5d", "NaN", "true", "t", "no",
           "2024-01-01", "2024-01-01 00:00:05", "2024-01-01T00:00:05.5Z", "2023-12-31 19:00:05 -05:00"]  # fmt: skip

nullable = lambda s: st.none() | s  # noqa: E731
ints = st.integers(-3, 3) | st.sampled_from(BIG)
doubles = st.sampled_from([0.0, -0.0, math.nan, math.inf, -math.inf, 1.5, 2.0, -1.0, 2.0**53, 2.0**53 + 2]) | st.floats(
    -4, 4, allow_nan=False
)
decimals = st.decimals(-3, 3, places=4) | st.sampled_from([decimal.Decimal("900719925474.0993")])
stamps = st.integers(-2, 12).map(lambda n: T0 + datetime.timedelta(seconds=n / 2))
dates = st.integers(-2, 2).map(lambda n: T0.date() + datetime.timedelta(days=n))
row = st.fixed_dictionaries(
    {
        "l": nullable(ints),
        "i": nullable(st.integers(-3, 3)),
        "d": nullable(doubles),
        "m": nullable(decimals),
        "s": nullable(st.sampled_from(STRINGS)),
        "b": nullable(st.booleans()),
        "t": nullable(stamps),
        "dt": nullable(dates),
        "st": nullable(st.fixed_dictionaries({"x": nullable(ints), "y": nullable(st.sampled_from(STRINGS))})),
        "mp": nullable(st.dictionaries(st.sampled_from(["a", "b"]), st.integers(-3, 3), max_size=2)),
    }
)
literal = (
    st.none()
    | st.booleans()
    | ints
    | st.just(2**63)
    | doubles
    | st.sampled_from(STRINGS)
    | st.sampled_from([[1], {"a": 1}])
)


@st.composite
def filters(draw):
    flt = {"attr": draw(st.sampled_from(ATTRS)), "op": draw(st.sampled_from(["==", "!=", "<", "<=", ">", ">="]))}
    rhs = draw(st.sampled_from(["value", "value", "where", "by_where", "when"]))
    if rhs == "value":
        flt["value"] = draw(literal)
    elif rhs == "where":
        flt["where"] = draw(st.sampled_from(ATTRS))
    elif rhs == "by_where":
        flt["by"] = {"attr": draw(st.sampled_from(ATTRS))}
    else:
        flt["by"] = {"when": draw(stamps | dates.map(lambda d: datetime.datetime(d.year, d.month, d.day))).isoformat()}
    return flt


keys = st.none() | st.sampled_from(
    ["1", "-1", "0", "2", "true", "false", "a", "b2", "2024-01-01", "2024-01-01 00:00:05", "2024-01-01 00:00:00.5",
     "1.5000", "0.0000", "-2.0000"]  # fmt: skip
)
reads = st.tuples(
    st.sampled_from(KEY_COLUMNS),
    st.booleans(),  # /state (with a query) or /last
    st.none() | st.lists(filters(), min_size=1, max_size=3),
    keys,
    st.sampled_from([None, 0, 1, 3]),
)
IDENTITIES = [{}, {"s": "a"}, {"b": True}, {"l": 2}, {"zz": 1}]


def _catalyst(api, cat, channel, keyed, query, key, limit):
    """The answer of the Catalyst path, or ``"error"`` where it raises."""
    try:
        df = apply_query(cat.state(channel), query) if keyed else cat.last(channel)
        rows = api._plan_filters(channel, df, key=key, limit=limit).collect()
    except ApiError as e:
        return e.status
    except Exception:  # noqa: BLE001
        return "error"
    if key is not None and not rows:
        return 404
    return _parsed([_jsonable(r) for r in rows])


def _python(api, channel, keyed, query_json, key, limit):
    try:
        out = api.state(channel, query_json, key, limit) if keyed else api.last(channel, key)
    except ApiError as e:
        return "error" if e.status == 422 else e.status
    return _parsed(out)


def _parsed(rows):
    """Rows as the client parses the JSON body: a map's key order is not
    part of the answer (Spark's collect returns a hash map), every
    number's text is (NaN, -0.0)."""
    return json.loads(json.dumps(rows), parse_float=str, parse_constant=str)


@settings(max_examples=40, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    sends=st.lists(st.lists(row, min_size=1, max_size=6), min_size=1, max_size=3),
    identity=st.sampled_from(IDENTITIES),
    cases=st.lists(reads, min_size=1, max_size=6),
)
def test_python_path_matches_catalyst(spark, sends, identity, cases):
    cat = ChannelCatalog(spark)
    for col in KEY_COLUMNS:
        cat.declare(col, WIDE)
        cat.declare_state(col, col)
        for rows in sends:
            cat.send(col, rows)
    api = GatewayApi(cat, identity_filter=identity)
    for channel, keyed, flts, key, limit in cases:
        query_json = None if flts is None else json.dumps({"filters": flts})
        want = _catalyst(api, cat, channel, keyed, parse_query(query_json), key, limit if keyed else None)
        got = _python(api, channel, keyed, query_json, key, limit if keyed else None)
        assert got == want, (channel, keyed, query_json, key, limit, got, want)


def test_left_operand_is_cast_before_the_right_is_read(spark):
    """Over the held local relation Spark evaluates ``CAST(s AS BIGINT)
    = n`` left first, so a bad string raises even where ``n`` is null."""
    cat = ChannelCatalog(spark)
    cat.declare("c", T.StructType([*KV.fields, T.StructField("s", T.StringType())]))
    cat.declare_state("c", "k")
    cat.send("c", [{"k": 1, "v": None, "s": "z"}])
    api, query_json = GatewayApi(cat), '{"attr": "s", "op": "==", "where": "v"}'
    assert _catalyst(api, cat, "c", True, parse_query(query_json), None, None) == "error"
    assert _python(api, "c", True, query_json, None, None) == "error"

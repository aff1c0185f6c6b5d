"""Property-based tests (hypothesis) for the pure-Python hot paths —
codec round-trips and hash-family invariants.  The reference has no
property tests (SURVEY §5); these cover the code the DuckDB oracle
can't reach."""

import datetime
import math
import os
import time

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import Row
from pyspark.sql import types as T

from csp_gateway_spark.operators.dedup import _AFFINE_P, _affine_coeffs
from csp_gateway_spark.operators.multimodal import (
    _decode_bmp_bytes,
    _decode_png_bytes,
    _nearest_resize,
)
from csp_gateway_spark.operators.similarity import _hyperplanes
from tests.test_multimodal_decode import make_bmp, make_png


@st.composite
def images(draw, max_side=12):
    h = draw(st.integers(1, max_side))
    w = draw(st.integers(1, max_side))
    data = draw(st.binary(min_size=h * w * 3, max_size=h * w * 3))
    return np.frombuffer(data, dtype=np.uint8).reshape(h, w, 3)


@given(images())
@settings(max_examples=40, deadline=None)
def test_png_roundtrip_any_image(px):
    assert np.array_equal(_decode_png_bytes(make_png(px)), px)


@given(images(), st.sampled_from([0, 2]))
@settings(max_examples=25, deadline=None)
def test_png_roundtrip_any_filter(px, ftype):
    assert np.array_equal(_decode_png_bytes(make_png(px, filter_type=ftype)), px)


@given(images())
@settings(max_examples=25, deadline=None)
def test_bmp_roundtrip_any_image(px):
    assert np.array_equal(_decode_bmp_bytes(make_bmp(px)), px)


@given(images(), st.integers(1, 16), st.integers(1, 16))
@settings(max_examples=25, deadline=None)
def test_resize_samples_source_pixels(px, out_w, out_h):
    out = _nearest_resize(px, out_w, out_h)
    assert out.shape == (out_h, out_w, 3)
    # every output pixel exists somewhere in the source
    src = {tuple(p) for row in px for p in row}
    assert all(tuple(p) in src for row in out for p in row)


@given(st.integers(1, 64), st.integers(0, 2**31))
@settings(max_examples=50, deadline=None)
def test_affine_coeffs_in_field(num, seed):
    coeffs = _affine_coeffs(num, seed)
    assert len(coeffs) == num
    for a, c in coeffs:
        assert 1 <= a < _AFFINE_P  # multiplier never 0 (degenerate hash)
        assert 0 <= c < _AFFINE_P
    # deterministic per seed
    assert coeffs == _affine_coeffs(num, seed)


@given(st.integers(1, 16), st.integers(1, 64), st.integers(0, 2**31))
@settings(max_examples=30, deadline=None)
def test_hyperplanes_unit_norm_and_deterministic(bits, dim, seed):
    planes = _hyperplanes(dim, bits, seed)
    assert len(planes) == bits and all(len(p) == dim for p in planes)
    for p in planes:
        assert abs(sum(x * x for x in p) - 1.0) < 1e-9  # unit norm
    assert planes == _hyperplanes(dim, bits, seed)


@given(st.binary(max_size=64))
@settings(max_examples=200, deadline=None)
def test_jpeg_marker_walk_total_on_any_bytes(tail):
    """The marker walk terminates on arbitrary bytes with either a
    ValueError or sane dimensions — never another exception, and never
    dimensions parsed from entropy-coded data (SOS guard)."""
    from csp_gateway_spark.operators.multimodal import _jpeg_meta_bytes

    for data in (tail, b"\xff\xd8" + tail):
        try:
            w, h, comps, prog = _jpeg_meta_bytes(data)
        except ValueError:
            continue
        assert 0 <= w <= 0xFFFF and 0 <= h <= 0xFFFF
        assert 0 <= comps <= 255 and isinstance(prog, bool)


@given(st.binary(max_size=64))
@settings(max_examples=100, deadline=None)
def test_jpeg_sos_before_sof_always_rejects(tail):
    """Anything after an SOS marker is entropy-coded data: a JPEG whose
    scan starts before any SOF must raise, no matter what byte soup
    (including fake 0xFF 0xCx pairs) follows."""
    import pytest

    from csp_gateway_spark.operators.multimodal import _jpeg_meta_bytes

    data = b"\xff\xd8" + b"\xff\xda" + (8).to_bytes(2, "big") + bytes(6) + tail
    with pytest.raises(ValueError):
        _jpeg_meta_bytes(data)


def test_norm_tokens_equals_composed_tokenization(spark):
    """norm_tokens (single-regex fast path) must emit the IDENTICAL
    token stream as filter(tokens(normalize_text(.)), != '') on
    adversarial inputs — punctuation runs, unicode, empties, NULLs."""
    import pyspark.sql.functions as F

    from csp_gateway_spark.operators.text import norm_tokens, normalize_text, tokens

    texts = [
        "Hello, World!  foo--bar __x__ 42",
        "",
        None,
        "   ",
        "...!!!",
        "a",
        "CamelCase mixedUP 0x1f 1,000.50",
        "tab\tsep\nnewline\r\nwin",
        "émigré naïve 日本語 test",  # non-ascii folds to separators
        "trailing space ",
        " leading",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, t string")
    composed = F.filter(tokens(normalize_text(F.col("t"))), lambda x: x != F.lit(""))
    a = df.select("i", F.posexplode_outer(composed)).collect()
    b = df.select("i", F.posexplode_outer(norm_tokens(F.col("t")))).collect()
    assert a == b


# ---------------------------------------------------------------------------
# Randomized edge patterns for the round-5 advisory fixes: scd2's
# all-NULL first row, merge_snapshot's duplicate-key refusal, and
# fk_audit's NULL-FK accounting stay fixed under arbitrary key/NULL
# shapes, checked against plain-Python reference models.
# ---------------------------------------------------------------------------

_attr_vals = st.one_of(st.none(), st.integers(0, 3))


@st.composite
def scd2_streams(draw):
    n_keys = draw(st.integers(1, 3))
    rows = []
    for k in range(n_keys):
        n = draw(st.integers(1, 6))
        # unique ts per key (contract), attrs nullable with repeats
        for t in range(n):
            rows.append((k, t, draw(_attr_vals), draw(_attr_vals)))
    return rows


@given(scd2_streams())
@settings(max_examples=10, deadline=None)
def test_scd2_matches_reference_model_with_nulls(spark, rows):
    from csp_gateway_spark.operators.state import scd2

    df = spark.createDataFrame(rows, "k int, ts int, a int, b int")
    got = {
        (r.k, r.valid_from): (r.a, r.b, r.valid_to, r.is_current)
        for r in scd2(df, ["k"], "ts", ["a", "b"]).collect()
    }
    # reference model: first row always opens a version; runs of
    # None-safe-equal attrs collapse; valid_to = next version's ts
    want = {}
    by_key = {}
    for k, ts, a, b in rows:
        by_key.setdefault(k, []).append((ts, a, b))
    for k, seq in by_key.items():
        seq.sort()
        versions = []
        prev = object()
        for ts, a, b in seq:
            if (a, b) != prev:
                versions.append((ts, a, b))
            prev = (a, b)
        for i, (ts, a, b) in enumerate(versions):
            nxt = versions[i + 1][0] if i + 1 < len(versions) else None
            want[(k, ts)] = (a, b, nxt, nxt is None)
    assert got == want


@st.composite
def cdc_batches(draw):
    cur = [(k, draw(st.integers(0, 9))) for k in range(draw(st.integers(1, 4)))]
    n_ch = draw(st.integers(1, 5))
    ch_keys = draw(
        st.lists(st.integers(0, 5), min_size=n_ch, max_size=n_ch)
    )
    changes = [
        (k, draw(st.integers(10, 19)), draw(st.sampled_from(["I", "U", "D"])))
        for k in ch_keys
    ]
    return cur, changes


@given(cdc_batches())
@settings(max_examples=10, deadline=None)
def test_merge_snapshot_dup_refusal_and_model(spark, data):
    import pytest as _pytest

    from csp_gateway_spark.sources.versioned import merge_snapshot

    cur_rows, ch_rows = data
    cur = spark.createDataFrame(cur_rows, "k int, v int")
    ch = spark.createDataFrame(ch_rows, "k int, v int, op string")
    keys = [k for k, _, _ in ch_rows]
    if len(set(keys)) != len(keys):
        # duplicate key in a ts-less batch MUST refuse, not fan out
        with _pytest.raises(ValueError):
            merge_snapshot(cur, ch, ["k"]).collect()
        return
    got = {r.k: r.v for r in merge_snapshot(cur, ch, ["k"]).collect()}
    want = dict(cur_rows)
    for k, v, op in ch_rows:
        if op == "D":
            want.pop(k, None)
        else:
            want[k] = v
    assert got == want


@st.composite
def fk_cases(draw):
    child = draw(
        st.lists(st.one_of(st.none(), st.integers(0, 5)), min_size=0, max_size=12)
    )
    parent = draw(
        st.lists(st.one_of(st.none(), st.integers(0, 5)), min_size=0, max_size=8)
    )
    return child, parent


@given(fk_cases())
@settings(max_examples=10, deadline=None)
def test_fk_audit_null_fk_accounting(spark, case):
    from csp_gateway_spark.operators.analytics import fk_audit

    child_vals, parent_vals = case
    child = spark.createDataFrame([(v,) for v in child_vals], "fk int")
    parent = spark.createDataFrame([(v,) for v in parent_vals], "pk int")
    r = fk_audit(child, parent, "fk", "pk").collect()[0]
    pk_set = {v for v in parent_vals if v is not None}
    n_null = sum(1 for v in child_vals if v is None)
    n_orph = sum(1 for v in child_vals if v is not None and v not in pk_set)
    assert (r.n_child, r.n_orphans, r.n_null_fk) == (
        len(child_vals), n_orph, n_null,
    )


# ---------------------------------------------------------------------------
# The serving routes render a row with the renderer compiled for its
# schema; it must answer what the per-value ``_jsonable`` walk answers,
# for rows given as dicts and as ``Row``s.
# ---------------------------------------------------------------------------

_SPECIAL_FLOATS = st.sampled_from([math.nan, math.inf, -math.inf, -0.0])
_LEAVES = [
    (T.ByteType(), st.integers(-(2**7), 2**7 - 1)),
    (T.ShortType(), st.integers(-(2**15), 2**15 - 1)),
    (T.IntegerType(), st.integers(-(2**31), 2**31 - 1)),
    (T.LongType(), st.integers(-(2**63), 2**63 - 1)),
    (T.StringType(), st.text(max_size=6)),
    (T.FloatType(), st.floats(width=32) | _SPECIAL_FLOATS),
    (T.DoubleType(), st.floats() | _SPECIAL_FLOATS),
    (T.BooleanType(), st.booleans()),
    (T.DecimalType(12, 3), st.decimals(min_value=-(10**8), max_value=10**8, places=3)),
    (T.DateType(), st.dates()),
    (T.TimestampType(), st.datetimes()),
    (T.TimestampNTZType(), st.datetimes()),
    (T.BinaryType(), st.binary(max_size=6) | st.binary(max_size=6).map(bytearray)),
]


def _nullable(values):
    return st.none() | values


def _struct(fields):
    names = [f"f{i}" for i in range(len(fields))]
    dtype = T.StructType([T.StructField(n, t) for n, (t, _) in zip(names, fields)])
    return dtype, st.tuples(*[_nullable(v) for _, v in fields]).map(lambda vs: Row(*names)(*vs))


def _types(depth):
    """(data type, its values) pairs, nested ``depth`` levels deep."""
    leaf = st.sampled_from(_LEAVES)
    if depth == 0:
        return leaf
    inner = _types(depth - 1)
    return (
        leaf
        | inner.map(lambda t: (T.ArrayType(t[0]), st.lists(_nullable(t[1]), max_size=3)))
        | inner.map(lambda t: (T.MapType(T.StringType(), t[0]), st.dictionaries(st.text(max_size=3), _nullable(t[1]), max_size=3)))
        | st.lists(inner, min_size=1, max_size=3).map(_struct)
    )


@st.composite
def schema_rows(draw):
    fields = draw(st.lists(_types(2), min_size=1, max_size=6))
    schema = _struct(fields)[0]
    rows = draw(st.lists(st.tuples(*[_nullable(v) for _, v in fields]), min_size=1, max_size=4))
    return schema, rows


def _same(a, b) -> bool:
    """Equal, of the same types all the way down, NaN equal to NaN."""
    if type(a) is not type(b):
        return False
    if isinstance(a, dict):
        return list(a) == list(b) and all(_same(a[k], b[k]) for k in a)
    if isinstance(a, Row):
        return list(a.__fields__) == list(b.__fields__) and len(a) == len(b) and all(map(_same, a, b))
    if isinstance(a, (list, tuple)):
        return len(a) == len(b) and all(map(_same, a, b))
    if isinstance(a, float) and math.isnan(a):
        return math.isnan(b)
    return a == b


@given(schema_rows())
@settings(max_examples=300, deadline=None)
def test_schema_renderer_equals_jsonable(case):
    from csp_gateway_spark.serving.app import _jsonable, _renderer

    schema, rows = case
    render = _renderer(schema)
    for values in rows:
        as_dict = dict(zip(schema.names, values))
        for row in (as_dict, Row(*schema.names)(*values)):
            assert _same(render(row), _jsonable(row))
        assert all(as_dict[n] is v for n, v in zip(schema.names, values))  # the row is not changed


# ---------------------------------------------------------------------------
# A send stores the values it converted and reads from its Arrow table
# only the columns Arrow changes; what it stores, logs and returns must
# be PySpark's Arrow read-back of that table, and a payload it refuses
# must fail as the read-back path fails.
# ---------------------------------------------------------------------------


def _stamped(schema):
    return T.StructType(
        list(schema.fields) + [T.StructField("id", T.StringType()), T.StructField("timestamp", T.TimestampType())]
    )


def _read_back(payload, schema):
    """Verify, convert, build the Arrow table, read it back as ``Row``s."""
    from pyspark.sql.conversion import ArrowTableToRowsConversion
    from pyspark.sql.types import _create_converter, _make_type_verifier

    from csp_gateway_spark.catalog import _arrow_table, _round_decimals_half_up

    verify = _make_type_verifier(schema)
    for row in payload:
        verify(row)
    table = _arrow_table(_round_decimals_half_up(list(map(_create_converter(schema), payload)), schema), schema)
    return ArrowTableToRowsConversion.convert(table, schema)


def _outcome(fn):
    try:
        return fn(), None
    except Exception as e:  # noqa: BLE001
        return None, (type(e), str(e))


def _check_send(spark, schema, payload, when=None):
    """Send ``payload`` to a fresh channel of ``schema`` (cut over at
    ``when``) and compare every form of what it stored with the read-back."""
    from csp_gateway_spark.catalog import ChannelCatalog

    stamped = _stamped(schema)
    want, error = _outcome(lambda: _read_back(payload, stamped))
    catalogs = []
    for _ in range(2):
        catalogs.append(ChannelCatalog(spark))
        catalogs[-1].declare("ch", schema)
        if when is not None:
            catalogs[-1].block_set_channels_until("ch", when)
    stored, got_error = _outcome(lambda: catalogs[0]._append("ch", payload, None)[0])
    assert got_error == error
    if error is not None:
        return
    assert _same(stored, [r.asDict() for r in want])
    rows, _ = _outcome(lambda: catalogs[1].send_rows("ch", payload))
    assert _same(rows, want)
    admitted = [
        r.asDict() for r in want if when is None or (r["timestamp"] is not None and r["timestamp"] >= when)
    ]
    from csp_gateway_spark.query import _rank

    latest = [max(admitted, key=lambda r: (_rank(r["timestamp"]), _rank(r["id"])))] if admitted else []
    for catalog in catalogs:
        assert _same(catalog.held("ch", keyed=False)[1], latest)
        for row in admitted:  # the log's read-back, from the id index
            assert _same(catalog.logged("ch", row["id"])[1], [row])
    return admitted


@given(schema_rows(), st.lists(_nullable(st.datetimes()), min_size=1, max_size=2))
@settings(max_examples=200, deadline=None)
def test_stored_rows_equal_the_arrow_read_back(spark, case, stamps):
    schema, rows = case
    payload = [
        {"id": str(i), "timestamp": stamps[i % len(stamps)], **dict(zip(schema.names, values))}
        for i, values in enumerate(rows)
    ]
    _check_send(spark, schema, payload)


def test_stored_rows_equal_the_arrow_read_back_across_dst(spark):
    """New York wall times in the spring gap and the autumn fold, a
    float32 column and a ``block_set_channels_until`` cutover."""
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("f", T.FloatType()),
            T.StructField("at", T.TimestampType()),
            T.StructField("ntz", T.TimestampNTZType()),
            T.StructField("tags", T.ArrayType(T.TimestampType())),
        ]
    )
    gap = datetime.datetime(2021, 3, 14, 2, 30)
    fold = datetime.datetime(2021, 11, 7, 1, 30)
    stamps = [gap, fold, fold.replace(fold=1), gap, datetime.datetime(2021, 11, 7, 6, 30)]
    payload = [
        {"k": i, "f": 0.1 * i, "at": t, "ntz": t, "tags": [t, None, fold.replace(fold=1)], "id": str(i), "timestamp": t}
        for i, t in enumerate(stamps)
    ]
    before = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        admitted = _check_send(spark, schema, payload, when=datetime.datetime(2021, 11, 7, 0, 30))
        assert [r["k"] for r in admitted] == [1, 2, 4]  # both readings of the fold, not the spring gap
    finally:
        if before is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = before
        time.tzset()

"""Filter/Query compiler (reference tests/utils/web/test_query.py model)."""

import datetime

import pytest

from csp_gateway_spark.query import CatalystOnly, Filter, FilterWhen, FilterWhereLambda, Query, apply_query


@pytest.fixture(scope="module")
def df(spark):
    return spark.createDataFrame(
        [
            ("a", 1, 10.0, datetime.datetime(2024, 1, 1)),
            ("b", 2, 20.0, datetime.datetime(2024, 1, 2)),
            ("c", 3, 3.0, datetime.datetime(2024, 1, 3)),
        ],
        "name string, n int, x double, ts timestamp",
    )


def test_ops(spark, df):
    assert apply_query(df, Query(filters=[Filter(attr="n", op=">", value=1)])).count() == 2
    assert apply_query(df, Query(filters=[Filter(attr="n", op="<=", value=2)])).count() == 2
    assert apply_query(df, Query(filters=[Filter(attr="name", op="==", value="a")])).count() == 1
    assert apply_query(df, Query(filters=[Filter(attr="name", op="!=", value="a")])).count() == 2


def test_conjunction(spark, df):
    q = Query(filters=[Filter(attr="n", op=">", value=1), Filter(attr="x", op="<", value=10.0)])
    rows = apply_query(df, q).collect()
    assert [r.name for r in rows] == ["c"]


def test_attr_vs_attr(spark, df):
    # x > n (attr-vs-attr comparison, reference FilterWhereLambda)
    q = Query(filters=[Filter(attr="x", op=">", by=FilterWhereLambda(attr="n"))])
    assert apply_query(df, q).count() == 2  # 10>1, 20>2; 3>3 is false
    q2 = Query(filters=[Filter(attr="x", op=">", where="n")])
    assert apply_query(df, q2).count() == apply_query(df, q).count()


def test_timestamp_filter(spark, df):
    q = Query(filters=[Filter(attr="ts", op=">=", by=FilterWhen(when=datetime.datetime(2024, 1, 2)))])
    assert apply_query(df, q).count() == 2


def test_unknown_attr_dropped(spark, df):
    q = Query(filters=[Filter(attr="missing", op="==", value=1)])
    assert apply_query(df, q).count() == 3  # clause dropped, warns


def test_bad_op_rejected():
    with pytest.raises(Exception):
        Filter(attr="x", op="~", value=1)


def test_approx_distinct_within_tolerance(spark, events):
    """HLL++ estimate within the configured 2% rsd (3 sigma) of exact."""
    from pyspark.sql import functions as F

    rows = (
        events.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.02).alias("approx"),
            F.countDistinct("user_id").alias("exact"),
        )
        .collect()
    )
    assert rows
    for r in rows:
        assert abs(r.approx - r.exact) <= max(3, 0.06 * r.exact), (r.event_type, r.approx, r.exact)


def test_resolve_on_rows_matches_apply_query(spark, df):
    """``Query.resolve(schema)`` filters rows as ``apply_query`` filters
    the frame, in order; a null comparison drops the row; a pair whose
    cast is Spark's parser is left to Catalyst."""
    rows = [r.asDict() for r in df.collect()] + [{"name": None, "n": None, "x": None, "ts": None}]
    queries = [
        Query(filters=[Filter(attr="n", op=">", value="1"), Filter(attr="x", op="<", value=10)]),
        Query(filters=[Filter(attr="x", op=">", where="n"), Filter(attr="missing", value=1)]),
        Query(filters=[Filter(attr="ts", op=">=", by=FilterWhen(when=datetime.datetime(2024, 1, 2)))]),
        Query(filters=[Filter(attr="n", op="<=", value=2.5)]),
    ]
    for q in queries:
        want = [r.name for r in apply_query(df, q).collect()]
        assert [r["name"] for r in q.resolve(df.schema)(rows)] == want
    for flt in (Filter(attr="x", op="<", value="10"), Filter(attr="n", value=True), Filter(attr="n", value=2**63)):
        with pytest.raises(CatalystOnly):
            Query(filters=[flt]).resolve(df.schema)

"""Join-heavy analytics shapes (operators/analytics.py).

Correctness of values is driver-oracle-checked at sf0.01
(tools/check.py); these tests pin the *plan* properties the module
promises — dims broadcast, filters pushed to the scan — plus cheap
semantic invariants at sf0.001.
"""

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from csp_gateway_spark.operators import analytics as A


@pytest.fixture(scope="module")
def tables(spark, sf_dir):
    return {
        t: spark.read.parquet(f"{sf_dir}/{t}.parquet")
        for t in ["customer", "orders", "lineitem", "supplier", "nation", "region", "part"]
    }


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_shipping_priority_broadcasts_and_limits(tables):
    df = A.shipping_priority(tables["customer"], tables["orders"], tables["lineitem"])
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    rows = df.collect()
    assert 0 < len(rows) <= 10
    revs = [r.revenue for r in rows]
    assert revs == sorted(revs, reverse=True)


def test_local_supplier_volume_nation_consistency(tables):
    df = A.local_supplier_volume(
        tables["customer"], tables["orders"], tables["lineitem"],
        tables["supplier"], tables["nation"], tables["region"],
    )
    assert "SortMergeJoin" not in _plan(df)
    rows = df.collect()
    # only nations in the chosen region can appear
    asia = {
        r.n_name
        for r in tables["nation"]
        .join(tables["region"].filter(F.col("r_name") == "ASIA"),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .collect()
    }
    assert {r.n_name for r in rows} <= asia


def test_volume_shipping_directional_pairs(tables):
    df = A.volume_shipping(
        tables["supplier"], tables["lineitem"], tables["orders"],
        tables["customer"], tables["nation"],
    )
    rows = df.collect()
    pairs = {(r.supp_nation, r.cust_nation) for r in rows}
    assert pairs <= {("NATION_1", "NATION_2"), ("NATION_2", "NATION_1")}
    assert all(r.supp_nation != r.cust_nation for r in rows)


def test_promo_revenue_pct_bounds(tables):
    row = A.promo_revenue_effect(tables["lineitem"], tables["part"]).collect()[0]
    assert 0.0 <= row.promo_pct <= 100.0
    assert row.promo_revenue <= row.total_revenue


def test_large_volume_orders_threshold(tables):
    rows = A.large_volume_orders(
        tables["customer"], tables["orders"], tables["lineitem"], min_qty=300.0
    ).collect()
    assert all(float(r.total_qty) > 300.0 for r in rows)
    # every returned order's qty re-derivable from lineitem
    if rows:
        ok = (
            tables["lineitem"]
            .filter(F.col("l_orderkey") == rows[0].o_orderkey)
            .agg(F.sum("l_quantity").alias("q"))
            .collect()[0]
        )
        assert abs(float(ok.q) - float(rows[0].total_qty)) < 1e-6


def test_brand_discount_terms_are_a_filter(tables):
    out = A.brand_discount_revenue(tables["lineitem"], tables["part"]).collect()[0]
    # n is a subset of the unfiltered join
    total = tables["lineitem"].count()
    assert 0 <= out.n <= total


def test_returned_items_only_r_flag(tables):
    df = A.returned_item_revenue(
        tables["customer"], tables["orders"], tables["lineitem"], tables["nation"],
        date_from="1995-01-01", date_to="2002-01-01", k=5,
    )
    assert len(df.collect()) <= 5
    assert "BroadcastHashJoin" in _plan(df)


def test_market_share_bounds_and_plan(tables):
    df = A.market_share(
        tables["customer"], tables["orders"], tables["lineitem"],
        tables["supplier"], tables["part"], tables["nation"], tables["region"],
    )
    # broadcast_dim declines the hint on the fact-sized customer/
    # supplier subtrees (VERDICT r12 #4), so the INITIAL static plan
    # may show SMJ; the contract is that AQE's runtime stats convert
    # it — assert on the FINAL adaptive plan after execution
    rows = df.collect()
    final = _plan(df).split("Initial Plan")[0]
    assert "isFinalPlan=true" in final or "AdaptiveSparkPlan" not in final
    assert "SortMergeJoin" not in final
    assert rows
    for r in rows:
        assert 0.0 <= r.mkt_share <= 1.0
        assert r.nation_volume <= r.total_volume


def test_product_type_profit_matches_manual(tables):
    df = A.product_type_profit(
        tables["lineitem"], tables["orders"], tables["supplier"],
        tables["part"], tables["nation"], name_fragment="red",
    )
    assert "SortMergeJoin" not in _plan(df)
    rows = df.collect()
    assert rows
    # nations sorted ASC, years DESC within nation
    keys = [(r.nation, -r.o_year) for r in rows]
    assert keys == sorted(keys)


def test_customer_distribution_counts_all_customers(tables):
    rows = A.customer_order_distribution(tables["customer"], tables["orders"]).collect()
    assert sum(r.custdist for r in rows) == tables["customer"].count()


def test_top_supplier_is_argmax(tables):
    rows = A.top_supplier(tables["lineitem"], tables["supplier"]).collect()
    assert rows
    # recompute the max independently
    expected = (
        tables["lineitem"]
        .filter((F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01"))
        .groupBy("l_suppkey")
        .agg(F.sum(A.net_revenue()).alias("rev"))
        .agg(F.max("rev").alias("m"))
        .collect()[0]
        .m
    )
    assert all(r.total_revenue == expected for r in rows)


def test_small_quantity_revenue_shrinks_with_fraction(tables):
    lo = A.small_quantity_revenue(tables["lineitem"], tables["part"], fraction=0.1).collect()[0]
    hi = A.small_quantity_revenue(tables["lineitem"], tables["part"], fraction=0.9).collect()[0]
    assert (lo.avg_yearly or 0.0) <= (hi.avg_yearly or 0.0)


def test_sole_returned_supplier_invariants(tables):
    df = A.sole_returned_supplier(tables["lineitem"], tables["supplier"], tables["orders"])
    rows = df.collect()
    assert all(r.numwait >= 1 for r in rows)
    waits = [r.numwait for r in rows]
    assert waits == sorted(waits, reverse=True)


def test_global_sales_opportunity_anti_join(tables):
    df = A.global_sales_opportunity(tables["customer"], tables["orders"])
    rows = df.collect()
    # every reported nation key was requested
    assert {r.c_nationkey for r in rows} <= {1, 2, 3, 4, 5}
    # anti-join: loosening the priority filter to an impossible value
    # returns every wealthy customer
    all_rows = A.global_sales_opportunity(
        tables["customer"], tables["orders"], priority="NO-SUCH-PRIORITY"
    ).collect()
    assert sum(r.numcust for r in all_rows) >= sum(r.numcust for r in rows)


def test_length_quantiles_match_numpy(documents):
    """Exact per-source token-length quantiles vs numpy.percentile
    (linear interpolation) — independent implementation."""
    import numpy as np

    from csp_gateway_spark.operators.text import length_quantiles, normalize_text, tokens

    got = {r["source"]: r for r in length_quantiles(documents).collect()}
    lens = documents.select(
        "source",
        F.size(F.filter(tokens(normalize_text(F.col("text"))), lambda t: t != F.lit(""))).alias("l"),
    ).collect()
    by_src = {}
    for r in lens:
        by_src.setdefault(r["source"], []).append(r["l"])
    assert set(got) == set(by_src)
    for src, vals in by_src.items():
        row = got[src]
        assert row["n_docs"] == len(vals)
        for name, p in (("q50", 50), ("q90", 90), ("q99", 99)):
            want = float(np.percentile(np.array(vals, dtype=float), p))
            assert abs(row[name] - round(want, 6)) < 1e-6, (src, name, row[name], want)


def test_profile_table_nulls_and_types(spark):
    from csp_gateway_spark.operators.analytics import profile_table

    df = spark.createDataFrame(
        [(1, None, "a"), (2, 5.0, "b"), (3, 7.5, None), (3, 7.5, "b")],
        "k long, v double, s string",
    )
    out = {r.col_name: r for r in profile_table(df).collect()}
    assert out["k"].n_rows == 4 and out["k"].n_nulls == 0 and out["k"].n_distinct == 3
    assert out["v"].n_nulls == 1 and out["v"].n_distinct == 2
    assert out["v"].min_str == "5.0" and out["v"].max_str == "7.5"
    assert out["s"].n_nulls == 1 and out["s"].min_str == "a"
    # approx mode returns the same shape with estimates
    approx = {r.col_name: r for r in profile_table(df, exact=False).collect()}
    assert set(approx) == set(out)
    assert approx["k"].n_distinct >= 2


def test_funnel_first_touch_semantics(spark):
    from csp_gateway_spark.operators.analytics import funnel

    rows = [
        # u1 completes view -> click -> buy in order
        (1, "view", 10), (1, "click", 20), (1, "buy", 30),
        # u2 clicked BEFORE first view: reaches stage 1 only
        (2, "click", 5), (2, "view", 10), (2, "buy", 40),
        # u3 views only
        (3, "view", 7),
        # u4 never views: not even stage 1 (first-touch funnel)
        (4, "click", 3), (4, "buy", 9),
        # u5 view then buy, no click: stages 1, not 2, not 3
        (5, "view", 1), (5, "buy", 2),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_type string, ts long")
    out = {r.stage: r for r in funnel(df, ["view", "click", "buy"]).collect()}
    assert out["view"].users == 4          # u1 u2 u3 u5
    assert out["click"].users == 1         # u1 only (u2's click precedes view)
    assert out["buy"].users == 1           # u1
    assert out["view"].conv == 1.0
    assert abs(out["buy"].conv - 0.25) < 1e-12
    assert [out[s].stage_idx for s in ("view", "click", "buy")] == [1, 2, 3]


def test_retention_cohorts_counts(spark):
    import datetime

    from csp_gateway_spark.operators.analytics import retention_cohorts

    d = datetime.datetime
    rows = [
        (1, d(2024, 1, 5)), (1, d(2024, 2, 20)), (1, d(2024, 2, 21)),
        (2, d(2024, 1, 31)), (2, d(2024, 3, 1)),
        (3, d(2024, 2, 10)),
    ]
    df = spark.createDataFrame(rows, "o_custkey long, o_orderdate timestamp")
    out = {
        (r.cohort_month.month, r.month_offset): r.customers
        for r in retention_cohorts(df).collect()
    }
    # cohort Jan: both custs at offset 0; cust1 again at offset 1; cust2 at offset 2
    assert out[(1, 0)] == 2
    assert out[(1, 1)] == 1    # duplicate same-month orders count once
    assert out[(1, 2)] == 1
    assert out[(2, 0)] == 1    # cohort Feb: cust3
    assert (2, 1) not in out


def test_market_basket_counts_and_lift(spark):
    from csp_gateway_spark.operators.analytics import market_basket

    rows = [
        (1, 10), (1, 20), (1, 30),
        (2, 10), (2, 20),
        (3, 10), (3, 20),
        (4, 30), (4, 30),  # duplicate line of same part: counted once
    ]
    df = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    out = {(r.item_a, r.item_b): r for r in market_basket(df, k=10).collect()}
    assert out[(10, 20)].n_pair == 3
    assert out[(10, 30)].n_pair == 1
    # lift(10,20) = n_pair * n_orders / (n10 * n20) = 3*4/(3*3)
    assert abs(out[(10, 20)].lift - (3 * 4) / (3 * 3)) < 1e-12
    # top of list is the most frequent pair
    top = market_basket(df, k=1).collect()[0]
    assert (top.item_a, top.item_b) == (10, 20)


def test_mad_outliers_robust_report(spark):
    from csp_gateway_spark.operators.analytics import mad_outliers

    # group a: symmetric around 10 with one wild point
    vals_a = [8, 9, 10, 11, 12, 1000]
    # group b: constant -> mad 0, any deviation is an outlier
    vals_b = [5, 5, 5, 7]
    rows = [("a", v) for v in vals_a] + [("b", v) for v in vals_b]
    df = spark.createDataFrame(rows, "source string, n_chars long")
    out = {r.source: r for r in mad_outliers(df, "n_chars").collect()}
    assert out["a"].med == 10.5           # interpolated median of 6 values
    assert out["a"].n_rows == 6
    assert out["a"].n_outliers == 1       # the 1000
    assert out["b"].mad == 0.0
    assert out["b"].n_outliers == 1       # the 7 (|7-5| > 3*0)


def test_equi_width_histogram_bins(spark):
    from csp_gateway_spark.operators.analytics import equi_width_histogram

    rows = [("a", float(v)) for v in range(0, 101)] + [("b", 5.0), ("b", 5.0)]
    df = spark.createDataFrame(rows, "g string, value double")
    out = {(r.g, r.bin): r for r in equi_width_histogram(df, "value", "g", bins=10).collect()}
    # group a: 0..100 over 10 bins of width 10; v=100 clamps into bin 9
    assert out[("a", 0)].n == 10          # 0..9
    assert out[("a", 9)].n == 11          # 90..100
    assert out[("a", 3)].bin_lo == 30.0
    # constant group: everything in bin 0
    assert out[("b", 0)].n == 2


def test_vwap_exact(spark):
    from csp_gateway_spark.operators.analytics import vwap

    rows = [(1, 100.0, 4.0), (1, 50.0, 1.0), (2, 10.0, 2.0)]
    df = spark.createDataFrame(
        rows, "l_partkey long, l_extendedprice double, l_quantity double"
    )
    out = {r.l_partkey: r for r in vwap(df, k=10).collect()}
    assert float(out[1].notional) == 150.0 and float(out[1].qty) == 5.0
    assert out[1].vwap == 30.0
    assert out[2].vwap == 5.0
    # ordering: part 1 has the larger notional
    assert vwap(df, k=1).collect()[0].l_partkey == 1


def test_key_skew_hhi(spark):
    from csp_gateway_spark.operators.analytics import key_skew

    rows = [(1,)] * 8 + [(2,)] * 1 + [(3,)] * 1
    df = spark.createDataFrame(rows, "k long")
    out = key_skew(df, "k", topk=2).collect()
    assert len(out) == 2 and out[0].k == 1 and out[0].n == 8
    assert abs(out[0].share - 0.8) < 1e-12
    # HHI = (64 + 1 + 1) / 100
    assert abs(out[0].hhi - 0.66) < 1e-12
    assert out[0].n_keys == 3


def test_fk_audit_orphans(spark):
    from csp_gateway_spark.operators.analytics import fk_audit

    child = spark.createDataFrame([(1,), (2,), (2,), (9,), (None,)], "fk long")
    parent = spark.createDataFrame([(1,), (2,), (3,)], "pk long")
    (r,) = fk_audit(child, parent, "fk", "pk", "c->p").collect()
    # SQL FK semantics: the NULL fk is n_null_fk, NOT an orphan
    assert r.relation == "c->p" and r.n_child == 5
    assert r.n_orphans == 1 and r.n_null_fk == 1


def test_table_diff_classification(spark):
    from csp_gateway_spark.operators.analytics import table_diff

    a = spark.createDataFrame([(1, 10), (2, 20), (3, None), (4, 40)], "k long, v int")
    b = spark.createDataFrame([(1, 10), (2, 99), (3, None), (5, 50)], "k long, v int")
    out = {r.change_type: r.n for r in table_diff(a, b, "k", ["v"]).collect()}
    # k=1 unchanged, k=2 changed, k=3 unchanged (null==null via eqNullSafe),
    # k=4 removed, k=5 added
    assert out == {"unchanged": 2, "changed": 1, "removed": 1, "added": 1}


def test_period_over_period_mom(spark):
    import datetime

    from csp_gateway_spark.operators.analytics import period_over_period

    d = datetime.datetime
    rows = [
        (d(2024, 1, 2), 100.0), (d(2024, 1, 20), 50.0),
        (d(2024, 2, 3), 300.0),
    ]
    df = spark.createDataFrame(rows, "o_orderdate timestamp, o_totalprice double")
    out = {r.month: r for r in period_over_period(df).collect()}
    assert out["2024-01"].revenue == 150.0 and out["2024-01"].prev is None
    assert out["2024-02"].prev == 150.0 and out["2024-02"].delta == 150.0
    assert out["2024-02"].pct == 1.0


def test_pareto_concentration(spark):
    from csp_gateway_spark.operators.analytics import pareto

    # 4 keys, values 40/30/20/10 -> 2 buckets: {40,30}=70%, {20,10}=30%
    rows = [(1, 40.0), (2, 30.0), (3, 20.0), (4, 10.0)]
    df = spark.createDataFrame(rows, "l_partkey long, l_extendedprice double")
    out = {r.decile: r for r in pareto(df, buckets=2).collect()}
    assert out[1].n_keys == 2 and out[1].revenue == 70.0 and out[1].share == 0.7
    assert out[2].revenue == 30.0 and out[2].share == 0.3


def test_benford_report_digits(spark):
    from csp_gateway_spark.operators.analytics import benford_report

    import math

    rows = [(1.5,), (19.0,), (100.0,), (950.0,), (9999.9,), (0.5,)]
    df = spark.createDataFrame(rows, "v double")
    out = {r.digit: r for r in benford_report(df, "v").collect()}
    # 0.5 filtered out; 9999.9 floors to digit 9 (never rounds to 10000)
    assert out[1].n == 3 and out[9].n == 2
    assert abs(out[1].observed - 0.6) < 1e-12
    assert abs(out[1].expected - math.log10(2.0)) < 1e-12


def test_engagement_kpis(spark):
    import datetime

    from csp_gateway_spark.operators.analytics import churn, new_vs_returning, stickiness

    d = datetime.datetime
    rows = [
        (1, d(2024, 1, 5)), (1, d(2024, 2, 5)),
        (2, d(2024, 1, 6)),
        (3, d(2024, 2, 7)), (3, d(2024, 3, 7)),
    ]
    df = spark.createDataFrame(rows, "u long, dt timestamp")
    month = F.date_trunc("month", F.col("dt")).cast("date")

    ch = {r.month.month: r for r in churn(df, "u", month).collect()}
    assert ch[1].actives == 2 and ch[1].retained == 1 and ch[1].churn_rate == 0.5
    assert ch[3].retained is None and ch[3].churn_rate is None  # last month

    st = {r.month.month: r for r in stickiness(df, "u", F.to_date("dt"), month).collect()}
    assert st[1].n_days == 2 and st[1].mau == 2 and st[1].stickiness == 0.5
    assert st[3].stickiness == 1.0

    nr = {r.day: r for r in new_vs_returning(df, "u", F.to_date("dt")).collect()}
    feb5 = nr[datetime.date(2024, 2, 5)]
    assert feb5.new_users == 0 and feb5.returning == 1


def test_rfm_segments_grid(spark):
    import datetime

    from csp_gateway_spark.operators.analytics import rfm_segments

    d = datetime.datetime
    # 4 customers with clearly ordered R/F/M behavior
    rows = []
    for cust, (n, amt, last_day) in enumerate(
        [(1, 10.0, 1), (2, 20.0, 5), (3, 30.0, 10), (4, 40.0, 20)], start=1
    ):
        for i in range(n):
            rows.append((cust, d(2024, 1, last_day), amt))
    df = spark.createDataFrame(rows, "o_custkey long, o_orderdate timestamp, o_totalprice double")
    df = df.withColumn("o_orderkey", F.monotonically_increasing_id())
    out = rfm_segments(df)
    segs = {(r.r_score, r.f_score, r.m_score): r for r in out.collect()}
    # customer 4: most recent, most frequent, biggest spend -> (4,4,4)
    assert (4, 4, 4) in segs and segs[(4, 4, 4)].n_customers == 1
    # customer 1: oldest, least frequent, smallest spend -> (1,1,1)
    assert (1, 1, 1) in segs
    assert sum(r.n_customers for r in segs.values()) == 4


def test_cohort_ltv_cumulative(spark):
    import datetime

    from csp_gateway_spark.operators.analytics import cohort_ltv

    d = datetime.datetime
    rows = [
        (1, d(2024, 1, 5), 100.0), (1, d(2024, 2, 5), 50.0),
        (2, d(2024, 1, 9), 10.0),
    ]
    df = spark.createDataFrame(rows, "o_custkey long, o_orderdate timestamp, o_totalprice double")
    out = {r.month_offset: r for r in cohort_ltv(df).collect()}
    assert out[0].revenue == 110.0 and out[0].cum_revenue == 110.0
    assert out[1].revenue == 50.0 and out[1].cum_revenue == 160.0
    assert out[0].customers == 2 and out[1].customers == 1


def test_dup_invoices_screen(spark):
    import datetime

    from csp_gateway_spark.operators.analytics import dup_invoices

    d = datetime.datetime
    rows = [
        (1, 1, d(2024, 1, 1), 500.0),
        (2, 1, d(2024, 1, 3), 500.0),   # dup: same cust+amount, 2 days
        (3, 1, d(2024, 3, 1), 500.0),   # outside the window
        (4, 2, d(2024, 1, 1), 500.0),   # different customer
        (5, 1, d(2024, 1, 2), 123.0),   # different amount
    ]
    df = spark.createDataFrame(
        rows, "o_orderkey long, o_custkey long, o_orderdate timestamp, o_totalprice double"
    )
    out = dup_invoices(df, max_days=7).collect()
    assert len(out) == 1
    (r,) = out
    assert (r.orderkey_a, r.orderkey_b, r.days_apart) == (1, 2, 2)
    # bucketed mode groups near amounts
    out2 = dup_invoices(df, max_days=7, amount_bucket=1000.0).collect()
    assert {(r.orderkey_a, r.orderkey_b) for r in out2} == {(1, 2), (1, 5), (2, 5)}


def test_equi_depth_histogram_buckets(spark):
    from csp_gateway_spark.operators.analytics import equi_depth_histogram

    df = spark.createDataFrame([(float(v),) for v in range(1, 101)], "v double")
    out = {r.bucket: r for r in equi_depth_histogram(df, "v", buckets=4).collect()}
    # 100 uniform values in quartile buckets: ~25 rows each
    assert sum(r.n for r in out.values()) == 100
    assert all(20 <= r.n <= 30 for r in out.values())
    assert out[0].lo == 1.0 and out[3].hi == 100.0


def test_wave4_operators_handle_empty_input(spark):
    """Every wave-4 operator must plan and return 0 rows (not crash)
    on an empty frame — the backfill-window-with-no-data case."""
    from csp_gateway_spark.operators.analytics import (
        benford_report, churn, equi_depth_histogram, equi_width_histogram,
        fk_audit, funnel, key_skew, mad_outliers, market_basket,
        new_vs_returning, pareto, period_over_period, retention_cohorts,
        rfm_segments, stickiness, table_diff, vwap,
    )
    from csp_gateway_spark.operators.windows import (
        event_transitions, gap_fill_locf, interarrival_stats, rolling_stats,
        session_funnel, windowed_topk,
    )
    from csp_gateway_spark.operators.state import scd2

    ev = spark.createDataFrame(
        [], "user_id long, event_type string, ts long, event_id long, value double"
    )
    orders = spark.createDataFrame(
        [], "o_orderkey long, o_custkey long, o_orderdate timestamp, o_totalprice double"
    )
    li = spark.createDataFrame(
        [], "l_orderkey long, l_partkey long, l_extendedprice double, l_quantity double"
    )
    month = F.date_trunc("month", F.col("o_orderdate")).cast("date")

    cases = [
        funnel(ev, ["view", "click"]),
        retention_cohorts(orders),
        market_basket(li),
        mad_outliers(ev.withColumnRenamed("event_type", "source"), "value"),
        equi_width_histogram(ev, "value", "event_type"),
        equi_depth_histogram(orders, "o_totalprice"),
        vwap(li),
        key_skew(ev, "user_id"),
        fk_audit(li, orders, "l_orderkey", "o_orderkey"),
        table_diff(orders, orders, "o_orderkey", ["o_totalprice"]),
        period_over_period(orders),
        pareto(li),
        benford_report(orders, "o_totalprice"),
        churn(orders, "o_custkey", month),
        stickiness(orders, "o_custkey", F.to_date("o_orderdate"), month),
        new_vs_returning(ev, "user_id", F.col("ts")),
        rfm_segments(orders),
        windowed_topk(ev, "ts", "user_id"),
        event_transitions(ev, "user_id", "event_type", ["ts"]),
        interarrival_stats(ev, "event_type", "ts", "event_id"),
        rolling_stats(ev, "value", ["event_type"], ["ts"]),
        gap_fill_locf(ev, "ts", "value", ["user_id"]),
        session_funnel(ev, ["view", "click"], "user_id", "event_type", "ts", 60),
        scd2(ev.select("user_id", "event_type", "ts"), ["user_id"], "ts", ["event_type"]),
    ]
    for df in cases:
        rows = df.collect()
        # global-aggregate shapes legally produce one all-null/zero row
        # on empty input (funnel emits its stage skeleton); everything
        # else must be empty
        assert len(rows) <= len(df.columns) + 3


def test_mahalanobis_outliers_finds_planted(spark):
    from csp_gateway_spark.operators.analytics import mahalanobis_outliers

    rows = [(i, 10.0 + (i % 3), 100.0 + (i % 5)) for i in range(50)]
    rows.append((99, 500.0, 100.0))      # wild in col a
    rows.append((98, 10.0, -900.0))      # wild in col b
    df = spark.createDataFrame(rows, "k long, a double, b double")
    top = mahalanobis_outliers(df, ["a", "b"], k=2).collect()
    assert {r.k for r in top} == {98, 99}
    assert all(r.m2 > 10 for r in top)


def test_winsorize_keep_bounds_columns(spark):
    from csp_gateway_spark.operators.analytics import winsorize

    df = spark.range(0, 101).select(F.col("id").cast("double").alias("x"))
    out = winsorize(df, ["x"], lower=0.05, upper=0.95, keep_bounds=True)
    assert {"x", "x_lo", "x_hi"} <= set(out.columns)
    r = out.agg(F.min("x"), F.max("x"), F.min("x_lo"), F.max("x_hi")).collect()[0]
    assert r[0] == r[2] and r[1] == r[3]
    # default drops the bound columns
    assert set(winsorize(df, ["x"]).columns) == {"x"}


def test_ewma_level_matches_python_fold(spark):
    from csp_gateway_spark.operators.analytics import ewma_level

    rows = [(m, float(v)) for m, v in [(1, 10.0), (2, 20.0), (3, 5.0), (4, 40.0)]]
    df = spark.createDataFrame(rows, "m int, v double")
    out = ewma_level(df, F.col("m"), "v", alpha=0.3).collect()[0]
    level = 10.0
    for v in [20.0, 5.0, 40.0]:
        level = level * 0.7 + v * 0.3
    assert out.n_buckets == 4 and out.last_bucket == 4
    assert abs(out.level - level) < 1e-12


def test_cusum_two_phase_equals_flat_window(spark, sf_dir):
    """The distributed cumulative (bucketed two-phase) must equal the
    single-task flat running sum bit-for-bit (decimal associativity)."""
    from pyspark.sql import Window

    from csp_gateway_spark.operators.analytics import cusum_scores

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    got = cusum_scores(orders, F.col("o_orderdate"), "o_totalprice")
    daily = orders.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("x")
    )
    st = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(
            (F.col("x").cast("decimal(19,2)") * F.col("x").cast("decimal(19,2)")).cast(
                "decimal(38,4)"
            )
        ).alias("sxx"),
    )
    w = Window.orderBy("day")
    mu = F.col("sx").cast("double") / F.col("n").cast("double")
    var = F.col("sxx").cast("double") / F.col("n").cast("double") - mu * mu
    want = (
        daily.withColumn("t", F.row_number().over(w))
        .withColumn(
            "cx", F.sum("x").over(w.rowsBetween(Window.unboundedPreceding, 0))
        )
        .crossJoin(F.broadcast(st))
        .select(
            "day",
            "t",
            (
                (F.col("cx").cast("double") - F.col("t").cast("double") * mu)
                / F.sqrt(var)
            ).alias("cusum"),
        )
    )
    g = {(r.day, r.t): r.cusum for r in got.collect()}
    w_ = {(r.day, r.t): r.cusum for r in want.collect()}
    assert g == w_  # bit-exact, not approx


def test_ab_test_report_manual(spark):
    from csp_gateway_spark.operators.analytics import ab_test_report

    rows = []
    for u in range(40):
        rows.append((u, float(u % 7) + (1.5 if u % 2 else 0.0)))
    df = spark.createDataFrame(rows, "user_id long, value double")
    out = ab_test_report(df, "user_id", "value", F.col("user_id") % 2).collect()[0]
    import statistics

    a = [float(u % 7) for u in range(0, 40, 2)]
    b = [float(u % 7) + 1.5 for u in range(1, 40, 2)]
    ma, mb = sum(a) / len(a), sum(b) / len(b)
    va, vb = statistics.variance(a), statistics.variance(b)
    z = (mb - ma) / (va / len(a) + vb / len(b)) ** 0.5
    assert out.n_a == 20 and out.n_b == 20
    assert abs(out.mean_a - ma) < 1e-9 and abs(out.mean_b - mb) < 1e-9
    assert abs(out.z - z) < 1e-9


def test_k_anonymity_counts(spark):
    from csp_gateway_spark.operators.analytics import k_anonymity

    rows = [("x", 1)] * 6 + [("x", 2)] * 2 + [("y", 1)] * 1
    df = spark.createDataFrame(rows, "a string, b int")
    out = k_anonymity(df, [F.col("a"), F.col("b")], k=3).collect()[0]
    assert out.n_groups == 3 and out.n_small_groups == 2
    assert out.rows_at_risk == 3 and out.min_class_size == 1 and out.n_rows == 9


def test_exact_quantiles_match_numpy(spark, sf_dir):
    import numpy as np

    from csp_gateway_spark.operators.analytics import exact_quantiles

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    probs = [0.25, 0.5, 0.75, 0.9, 0.99]
    got = {
        r.p: r.q
        for r in exact_quantiles(
            li, "l_extendedprice", ["l_orderkey", "l_linenumber"], probs
        ).collect()
    }
    vals = np.array(
        [r[0] for r in li.select("l_extendedprice").collect()], dtype=float
    )
    for p in probs:
        want = float(np.percentile(vals, p * 100))
        assert abs(got[p] - want) < 1e-6, (p, got[p], want)


def test_weighted_median_manual(spark):
    from csp_gateway_spark.operators.analytics import weighted_median

    rows = [(1.0, 1.0, 1), (2.0, 1.0, 2), (3.0, 6.0, 3), (4.0, 2.0, 4)]
    df = spark.createDataFrame(rows, "v double, w double, k long")
    got = {
        r.p: r.wq
        for r in weighted_median(df, "v", "w", ["k"], probs=(0.25, 0.5, 0.75)).collect()
    }
    # W=10; cum: 1->1, 2->2, 3->8, 4->10
    assert got[0.25] == 3.0 and got[0.5] == 3.0 and got[0.75] == 3.0


def test_seasonal_index_mean_one(spark, sf_dir):
    """Weighted by month count, the seasonal indices average to 1."""
    from csp_gateway_spark.operators.analytics import seasonal_index

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    rows = seasonal_index(orders, "o_orderdate", "o_totalprice").collect()
    assert {r.moy for r in rows} <= set(range(1, 13))
    num = sum(r.seasonal_index * r.n_months for r in rows)
    den = sum(r.n_months for r in rows)
    assert abs(num / den - 1.0) < 1e-9


def test_anomaly_days_threshold(spark, sf_dir):
    from csp_gateway_spark.operators.analytics import anomaly_days

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    rows = anomaly_days(
        orders, F.col("o_orderdate"), "o_totalprice", z_thresh=1.5
    ).collect()
    assert all(abs(r.z) > 1.5 for r in rows)
    loose = anomaly_days(
        orders, F.col("o_orderdate"), "o_totalprice", z_thresh=0.5
    ).collect()
    assert len(loose) >= len(rows)


def test_windowed_funnel_chain_existence(spark):
    """The strict-window funnel must accept a LATER stage-1 event when
    the earliest one is out of window (chain existence, not
    first-touch)."""
    from csp_gateway_spark.operators.analytics import windowed_funnel

    rows = [
        (1, "view", 0), (1, "view", 50), (1, "click", 55), (1, "purchase", 200),
        (2, "view", 0), (2, "click", 100),   # gap 100 > 10: no stage 2
        (3, "click", 5),                     # click w/o view: no stage 2
    ]
    df = spark.createDataFrame(rows, "user_id long, event_type string, ts long")
    out = {
        r.stage: r.n_users
        for r in windowed_funnel(
            df, ["view", "click", "purchase"], F.lit(10)
        ).collect()
    }
    assert out == {"view": 2, "click": 1, "purchase": 0}


def test_cluster_quality_bounds(spark, sf_dir):
    from csp_gateway_spark.operators.similarity import (
        cluster_quality,
        sample_centroids,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = sample_centroids(emb, 8, oracle_safe=True)
    rows = cluster_quality(emb, cents).collect()
    assert sum(r.n for r in rows) == emb.count()
    for r in rows:
        assert -1.0 <= r.cohesion <= 1.0 and -1.0 <= r.separation <= 1.0


def test_chi_square_independent_uniform_is_zero(spark):
    """A perfectly balanced contingency table has chi2 == 0."""
    from csp_gateway_spark.operators.analytics import chi_square_report

    rows = [(a, b) for a in range(3) for b in ("x", "y") for _ in range(4)]
    df = spark.createDataFrame(rows, "a int, b string")
    out = chi_square_report(df, "a", "b").collect()[0]
    assert out.chi2 == 0.0 and out.dof == 2 and out.n == 24


def test_chi_square_matches_scipy_formula(spark):
    from csp_gateway_spark.operators.analytics import chi_square_report

    rows = [(0, "x")] * 10 + [(0, "y")] * 2 + [(1, "x")] * 3 + [(1, "y")] * 9
    df = spark.createDataFrame(rows, "a int, b string")
    out = chi_square_report(df, "a", "b").collect()[0]
    # manual: row totals 12/12, col totals 13/11, n 24
    exp = {(0, "x"): 12 * 13 / 24, (0, "y"): 12 * 11 / 24,
           (1, "x"): 12 * 13 / 24, (1, "y"): 12 * 11 / 24}
    obs = {(0, "x"): 10, (0, "y"): 2, (1, "x"): 3, (1, "y"): 9}
    chi2 = sum((obs[k] - e) ** 2 / e for k, e in sorted(exp.items()))
    assert abs(out.chi2 - chi2) < 1e-9 and out.dof == 1


def test_bounce_rate_sessionization(spark):
    from csp_gateway_spark.operators.analytics import bounce_rate

    D = 86_400_000_000_000
    rows = [
        (1, 0 * D + 1, 1), (1, 0 * D + 2, 2),        # one 2-event session day 0
        (1, 0 * D + 10_000_000_000_000, 3),          # new session (gap), day 0
        (2, 1 * D + 5, 4),                           # bounce day 1
    ]
    df = spark.createDataFrame(rows, "user_id long, ts long, event_id long")
    out = {r.day_num: (r.sessions, r.bounces) for r in bounce_rate(df).collect()}
    assert out == {0: (2, 1), 1: (1, 1)}


def test_grouped_weighted_median_manual(spark):
    from csp_gateway_spark.operators.analytics import grouped_weighted_median

    rows = [
        ("g1", 1.0, 1.0, 1), ("g1", 2.0, 1.0, 2), ("g1", 3.0, 6.0, 3),
        ("g2", 5.0, 2.0, 4), ("g2", 7.0, 2.0, 5),
    ]
    df = spark.createDataFrame(rows, "g string, v double, w double, k long")
    out = {r.g: r for r in grouped_weighted_median(df, "g", "v", "w", ["k"]).collect()}
    assert out["g1"].wq == 3.0 and out["g1"].n == 3 and out["g1"].total_w == 8.0
    assert out["g2"].wq == 5.0  # cum 2.0 >= 0.5*4 at the first row


def test_psi_drift_identical_is_zero_and_orders(spark):
    from csp_gateway_spark.operators.analytics import psi_drift

    a = spark.range(0, 100).select((F.col("id") % 10).alias("x"))
    b = spark.range(0, 100).select((F.col("id") % 10).alias("x"))
    same = psi_drift(a, b, F.col("x"), 1.0, 10).collect()[0]
    assert same.psi == 0.0 and same.n_a == 100 and same.n_b == 100
    shifted = spark.range(0, 100).select((F.col("id") % 10 + 5).alias("x"))
    drift = psi_drift(a, shifted, F.col("x"), 1.0, 10).collect()[0]
    assert drift.psi > 0.2


def test_order_reconciliation_clean_and_dirty(spark):
    from csp_gateway_spark.operators.analytics import order_reconciliation

    orders = spark.createDataFrame(
        [(1, 110.0), (2, 999.0), (3, 50.0)],
        "o_orderkey long, o_totalprice double",
    )
    li = spark.createDataFrame(
        [(1, 100.0, 0.0, 0.1), (2, 100.0, 0.0, 0.0)],
        "l_orderkey long, l_extendedprice double, l_discount double, l_tax double",
    )
    r = order_reconciliation(orders, li, tol=1.0).collect()[0]
    # order 1 reconciles (100*1.1=110), order 2 off by 899, order 3 no lines
    assert r.n_orders == 3 and r.n_no_lines == 1 and r.n_mismatch == 1
    assert abs(r.max_abs_diff - 899.0) < 1e-9


def test_hierarchy_share_sums_to_one(spark, sf_dir):
    from csp_gateway_spark.operators.analytics import hierarchy_share

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    rows = hierarchy_share(
        cust, region, nation,
        fact_key="c_nationkey", l2_key="n_nationkey", l2_parent="n_regionkey",
        l1_key="r_regionkey", l1_name="r_name", l2_name="n_name",
        value_col="c_acctbal",
    ).collect()
    assert abs(sum(r.share_of_total for r in rows) - 1.0) < 1e-9
    by_parent = {}
    for r in rows:
        by_parent.setdefault(r.l1, 0.0)
        by_parent[r.l1] += r.share_of_parent
    for v in by_parent.values():
        assert abs(v - 1.0) < 1e-9


def test_ab_test_report_degenerate_arms(spark):
    """Empty or single-unit arms must yield ONE row with NULL stats,
    never zero rows or a divide blow-up."""
    from csp_gateway_spark.operators.analytics import ab_test_report

    # arm 1 empty: even user ids only
    df = spark.createDataFrame(
        [(0, 1.0), (2, 2.0), (4, 3.0)], "user_id long, value double"
    )
    out = ab_test_report(df, "user_id", "value", F.col("user_id") % 2).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_a == 3 and r.n_b == 0
    assert r.mean_b is None and r.z is None and abs(r.mean_a - 2.0) < 1e-12

    # arm 1 has n=1: Welch variance undefined -> z NULL, means present
    df2 = spark.createDataFrame(
        [(0, 1.0), (2, 2.0), (1, 5.0)], "user_id long, value double"
    )
    r2 = ab_test_report(df2, "user_id", "value", F.col("user_id") % 2).collect()[0]
    assert r2.n_a == 2 and r2.n_b == 1
    assert abs(r2.mean_b - 5.0) < 1e-12 and r2.z is None


def test_mutual_information_manual(spark):
    import math

    from csp_gateway_spark.operators.analytics import mutual_information

    # perfectly dependent: a == b -> MI = H(A), NMI = 1
    rows = [("x", "x")] * 3 + [("y", "y")] * 3
    df = spark.createDataFrame(rows, "a string, b string")
    r = mutual_information(df, "a", "b").collect()[0]
    assert abs(r.mi - math.log(2)) < 1e-9
    assert abs(r.nmi - 1.0) < 1e-9
    # independent uniform -> MI = 0
    rows2 = [(a, b) for a in "xy" for b in "uv" for _ in range(2)]
    df2 = spark.createDataFrame(rows2, "a string, b string")
    r2 = mutual_information(df2, "a", "b").collect()[0]
    assert abs(r2.mi) < 1e-12 and r2.n == 8


def test_user_streaks_islands(spark):
    from csp_gateway_spark.operators.analytics import user_streaks

    D = 86_400_000_000_000
    rows = [
        # user 1: days 0,1,2 and 5 -> longest 3
        (1, 0), (1, D), (1, 2 * D), (1, 5 * D), (1, 5 * D + 7),
        # user 2: day 9 only -> 1
        (2, 9 * D),
        # user 3: days 3,4 -> 2
        (3, 3 * D), (3, 4 * D),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts long")
    out = {r.streak_days: r.n_users for r in user_streaks(df).collect()}
    assert out == {3: 1, 1: 1, 2: 1}


def test_first_seen_growth_manual(spark):
    from csp_gateway_spark.operators.analytics import first_seen_growth

    D = 86_400_000_000_000
    rows = [(1, 0), (2, 0), (1, D), (3, D), (4, 2 * D), (1, 2 * D)]
    df = spark.createDataFrame(rows, "user_id long, ts long")
    got = [(r.day_num, r.new_users, r.cum_users) for r in first_seen_growth(df).collect()]
    assert got == [(0, 2, 2), (1, 1, 3), (2, 1, 4)]


def test_active_orders_manual(spark):
    import datetime

    from csp_gateway_spark.operators.analytics import active_orders

    d = lambda s: datetime.datetime.fromisoformat(s)
    orders = spark.createDataFrame(
        [(1, d("1970-01-02")), (2, d("1970-01-03")), (3, d("1970-01-10"))],
        "o_orderkey long, o_orderdate timestamp",
    )
    li = spark.createDataFrame(
        [(1, d("1970-01-04")), (1, d("1970-01-05")), (2, d("1970-01-03"))],
        "l_orderkey long, l_shipdate timestamp",
    )  # order 3 has no lines -> excluded
    got = [(r.day_num, r.open_orders) for r in active_orders(orders, li).collect()]
    # opens: day1 (+1), day2 (+1); closes: day5(last ship day4)+1=day5 for o1,
    # day3+1=day4... o1 closes after day 1970-01-05 -> delta -1 at day 5;
    # o2 closes after 1970-01-03 -> -1 at day 3
    assert got == [(1, 1), (2, 2), (3, 1), (5, 0)]


def test_group_ols_trend_exact_line(spark):
    from csp_gateway_spark.operators.analytics import group_ols_trend

    # group g: y = 2x + 1 exactly; group h: constant y = 5
    rows = [("g", x, 2.0 * x + 1.0) for x in range(1, 6)]
    rows += [("h", x, 5.0) for x in range(1, 4)]
    df = spark.createDataFrame(rows, "g string, x int, y double")
    out = {r.grp: r for r in group_ols_trend(df, "g", "x", "y").collect()}
    assert abs(out["g"].slope - 2.0) < 1e-9 and abs(out["g"].intercept - 1.0) < 1e-9
    assert abs(out["h"].slope) < 1e-9 and abs(out["h"].intercept - 5.0) < 1e-9


def test_ntile_histogram_tiles(spark):
    from csp_gateway_spark.operators.analytics import ntile_histogram

    df = spark.createDataFrame([(float(i), i) for i in range(1, 11)], "v double, k int")
    out = [(r.bucket, r.n, r.lo, r.hi) for r in ntile_histogram(df, "v", ["k"], buckets=4).collect()]
    # ANSI ntile(4) over 10 rows: sizes 3,3,2,2
    assert out == [
        (1, 3, 1.0, 3.0), (2, 3, 4.0, 6.0), (3, 2, 7.0, 8.0), (4, 2, 9.0, 10.0),
    ]


def test_kaplan_meier_hand_computed(spark):
    from csp_gateway_spark.operators.analytics import kaplan_meier

    # 8 subjects; censored=1 rows leave the risk set without an event
    rows = [(1, 0), (2, 0), (2, 1), (3, 0), (4, 1), (5, 0), (5, 0), (6, 1)]
    df = spark.createDataFrame(rows, "dur int, cens int")
    got = [(r.t, r.n_risk, r.d, r.survival) for r in kaplan_meier(df, "dur", "cens").collect()]
    # S(1)=7/8, S(2)=7/8*6/7=3/4, S(3)=3/4*4/5=3/5, S(5)=3/5*(1/3)=1/5
    assert [(t, n, d) for t, n, d, _ in got] == [(1, 8, 1), (2, 7, 1), (3, 5, 1), (5, 3, 2)]
    for (_, _, _, s), want in zip(got, [0.875, 0.75, 0.6, 0.2]):
        assert abs(s - want) < 1e-12


def test_correlation_matrix_vs_numpy(spark):
    import numpy as np

    from csp_gateway_spark.operators.analytics import correlation_matrix

    x = [1.0, 2.0, 3.0, 4.0, 5.0]
    y = [2.0, 1.0, 4.0, 3.0, 7.0]
    df = spark.createDataFrame(list(zip(x, y)), "x double, y double")
    got = correlation_matrix(df, ["x", "y"], scale=2).collect()
    assert [(r.var_a, r.var_b) for r in got] == [("x", "y")]
    want = float(np.corrcoef(x, y)[0, 1])
    assert abs(got[0].corr - want) < 1e-9
    # constant column -> NULL, not NaN/inf (matches the oracle guard)
    df2 = spark.createDataFrame([(v, 3.0) for v in x], "x double, y double")
    assert correlation_matrix(df2, ["x", "y"], scale=2).collect()[0].corr is None
    with pytest.raises(ValueError, match="scale"):
        correlation_matrix(df, ["x", "y"], scale=4)


def test_packed_array_cap_guards(spark):
    from py4j.protocol import Py4JJavaError

    from csp_gateway_spark.operators.analytics import (
        kaplan_meier, mutual_information,
    )
    import csp_gateway_spark.operators.analytics as A_mod

    old = A_mod.PACKED_ARRAY_CAP
    try:
        A_mod.PACKED_ARRAY_CAP = 3  # module default is read at call time
        km_in = spark.createDataFrame(
            [(i, 0) for i in range(10)], "dur int, cens int"
        )
        with pytest.raises(Exception, match="PACKED_ARRAY_CAP"):
            kaplan_meier(km_in, "dur", "cens").collect()
        mi_in = spark.createDataFrame(
            [(str(i), str(i % 5)) for i in range(10)], "a string, b string"
        )
        with pytest.raises(Exception, match="PACKED_ARRAY_CAP"):
            mutual_information(mi_in, "a", "b").collect()
    finally:
        A_mod.PACKED_ARRAY_CAP = old


def test_welch_ttest_vs_numpy(spark):
    import numpy as np

    from csp_gateway_spark.operators.analytics import welch_ttest

    a = [10.0, 12.0, 9.0, 11.0, 13.0]
    b = [8.0, 7.0, 9.5, 6.5]
    rows = [("a", v) for v in a] + [("b", v) for v in b]
    df = spark.createDataFrame(rows, "g string, v double")
    r = welch_ttest(df, "g", "v", "a", "b").collect()[0]
    va, vb = np.var(a, ddof=1), np.var(b, ddof=1)
    se2 = va / len(a) + vb / len(b)
    t = (np.mean(a) - np.mean(b)) / np.sqrt(se2)
    dfw = se2**2 / ((va / len(a)) ** 2 / (len(a) - 1) + (vb / len(b)) ** 2 / (len(b) - 1))
    assert (r.n_a, r.n_b) == (5, 4)
    assert abs(r.t_stat - t) < 1e-9 and abs(r.df_welch - dfw) < 1e-9


def test_lag_correlations_vs_numpy(spark):
    import numpy as np

    from csp_gateway_spark.operators.analytics import lag_correlations

    y = [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0, 5.0, 3.0]
    df = spark.createDataFrame(list(enumerate(y)), "k int, v double")
    got = {r.lag: r for r in lag_correlations(df, "k", "v", max_lag=3).collect()}
    for k in (1, 2, 3):
        want = float(np.corrcoef(y[:-k], y[k:])[0, 1])
        assert got[k].n_pairs == len(y) - k
        assert abs(got[k].corr - want) < 1e-9
    # gap-aware: drop key 5 -> lag-1 pairs lose (4,5) and (5,6)
    df2 = df.filter(F.col("k") != 5)
    g2 = {r.lag: r for r in lag_correlations(df2, "k", "v", max_lag=1).collect()}
    assert g2[1].n_pairs == 7


def test_nelson_aalen_hand_computed(spark):
    from csp_gateway_spark.operators.analytics import nelson_aalen

    rows = [(1, 0), (2, 0), (2, 1), (3, 0), (4, 1), (5, 0), (5, 0), (6, 1)]
    df = spark.createDataFrame(rows, "dur int, cens int")
    got = [(r.t, r.n_risk, r.d, r.cum_hazard) for r in nelson_aalen(df, "dur", "cens").collect()]
    assert [(t, n, d) for t, n, d, _ in got] == [(1, 8, 1), (2, 7, 1), (3, 5, 1), (5, 3, 2)]
    wants = [1 / 8, 1 / 8 + 1 / 7, 1 / 8 + 1 / 7 + 1 / 5, 1 / 8 + 1 / 7 + 1 / 5 + 2 / 3]
    for (_, _, _, h), want in zip(got, wants):
        assert abs(h - want) < 1e-12


def test_burstiness_manual(spark):
    from csp_gateway_spark.operators.analytics import burstiness

    D = 86_400_000_000_000
    # user 1: counts [4, 1, 1] over 3 days  -> fano = var/mean = 3/2
    # user 2: counts [2, 2] over 2 days     -> fano 0
    # user 3: one day only -> excluded
    rows = (
        [(1, 0 * D + i) for i in range(4)]
        + [(1, 1 * D), (1, 2 * D)]
        + [(2, 0 * D), (2, 1), (2, 1 * D), (2, 1 * D + 1)]
        + [(3, 0 * D)]
    )
    df = spark.createDataFrame(rows, "user_id long, ts long")
    got = [(r.user_id, r.days_active, r.total_events, r.fano) for r in burstiness(df).collect()]
    assert got == [(1, 3, 6, 1.5), (2, 2, 4, 0.0)]


def test_ks_test_hand_computed(spark):
    from csp_gateway_spark.operators.analytics import ks_test

    rows = [("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", 2.0), ("b", 3.0), ("b", 4.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    r = ks_test(df, "g", "v", "a", "b").collect()[0]
    # F_a-F_b = 1/3 at v in {1,2,3}, 0 at 4.  In exact arithmetic the
    # three are tied; in doubles 1 - 2/3 is the strict max (ulp above
    # 1/3) — both engines agree, so the argmax is v=3 deterministically
    assert (r.n_a, r.n_b) == (3, 3)
    assert abs(r.d_stat - 1 / 3) < 1e-12
    assert r.at_value == 3.0
    # identical cohorts -> D = 0
    df2 = spark.createDataFrame(
        [("a", v) for v in (1.0, 2.0)] + [("b", v) for v in (1.0, 2.0)],
        "g string, v double",
    )
    assert ks_test(df2, "g", "v", "a", "b").collect()[0].d_stat == 0.0


def test_holt_forecast_vs_python_loop(spark):
    from csp_gateway_spark.operators.analytics import holt_forecast

    y = [10.0, 12.0, 13.0, 16.0, 19.0, 18.0, 22.0]
    a_, b_ = 0.5, 0.25
    l, t = y[0], y[1] - y[0]
    for v in y[1:]:
        lnew = a_ * v + (1 - a_) * (l + t)
        t = b_ * (lnew - l) + (1 - b_) * t
        l = lnew
    df = spark.createDataFrame(list(enumerate(y)), "k int, v double")
    got = {r.h: r.forecast for r in holt_forecast(df, "k", "v", horizon=3).collect()}
    for h in (1, 2, 3):
        assert abs(got[h] - (l + h * t)) < 1e-9


def test_mann_whitney_hand_computed(spark):
    from csp_gateway_spark.operators.analytics import mann_whitney_u

    # a = [1,2,3], b = [2,3,4]: midranks 1,2.5,4.5 for a -> R_a=8, U=2
    rows = [("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", 2.0), ("b", 3.0), ("b", 4.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    r = mann_whitney_u(df, "g", "v", "a", "b").collect()[0]
    assert (r.n_a, r.n_b) == (3, 3)
    assert abs(r.u_stat - 2.0) < 1e-12
    # tie-corrected sigma^2 = (9/12)*(7 - 12/30) = 4.95; z = (2-4.5)/sqrt(4.95)
    import math

    assert abs(r.z - (2.0 - 4.5) / math.sqrt(4.95)) < 1e-9


def test_changepoint_finds_level_shift(spark):
    from csp_gateway_spark.operators.analytics import changepoint

    # clear level shift after k=5: [10×5, 50×5]
    rows = [(k, 10.0) for k in range(1, 6)] + [(k, 50.0) for k in range(6, 11)]
    df = spark.createDataFrame(rows, "k int, v double")
    r = changepoint(df, "k", "v").collect()[0]
    assert r.n == 10 and r.split_key == 5
    assert abs(r.mean_left - 10.0) < 1e-9 and abs(r.mean_right - 50.0) < 1e-9
    # reduction equals n1*n2/n * (m1-m2)^2 = 25/10 * 1600 = 4000
    assert abs(r.reduction - 4000.0) < 1e-6


def test_kruskal_wallis_hand_computed(spark):
    from csp_gateway_spark.operators.analytics import kruskal_wallis

    # a=[1,2,3], b=[2,3,4], c=[5,6]: midranks 1,2.5,2.5,4.5,4.5,6,7,8
    # R_a=8, R_b=13, R_c=15; H = (12/72)*(64/3+169/3+225/2) - 27
    rows = (
        [("a", 1.0), ("a", 2.0), ("a", 3.0)]
        + [("b", 2.0), ("b", 3.0), ("b", 4.0)]
        + [("c", 5.0), ("c", 6.0)]
    )
    df = spark.createDataFrame(rows, "g string, v double")
    got = {
        r.grp: r
        for r in kruskal_wallis(df, "g", "v", ["a", "b", "c"]).collect()
    }
    assert got["a"].n_g == 3 and got["b"].n_g == 3 and got["c"].n_g == 2
    assert abs(got["a"].mean_rank - 8.0 / 3) < 1e-9
    assert abs(got["c"].mean_rank - 7.5) < 1e-9
    h = 12.0 / 72.0 * (64.0 / 3 + 169.0 / 3 + 225.0 / 2) - 27.0
    c = 1.0 - 12.0 / (512.0 - 8.0)
    assert abs(got["a"].h - h) < 1e-9
    assert abs(got["b"].h_adj - h / c) < 1e-9


def test_logrank_hand_computed(spark):
    from csp_gateway_spark.operators.analytics import logrank_test

    # a: events at 1,2; b: event at 1, censored at 3
    rows = [("a", 1, 0), ("a", 2, 0), ("b", 1, 0), ("b", 3, 1)]
    df = spark.createDataFrame(rows, "g string, dur int, cens int")
    r = logrank_test(df, "g", "dur", "cens", "a", "b").collect()[0]
    assert (r.n_a, r.n_b, r.o_a) == (2, 2, 2)
    # t=1: E1=2*2/4=1, v=2*(1/2)*(1/2)*(2/3); t=2: E1=0.5, v=0.25
    e = 1.0 + 0.5
    v = 2.0 * 0.25 * (2.0 / 3.0) + 0.25
    assert abs(r.e_a - e) < 1e-9
    assert abs(r.chi2 - (2.0 - e) ** 2 / v) < 1e-9


def test_runs_test_hand_computed(spark):
    import math

    from csp_gateway_spark.operators.analytics import runs_test

    # alternating series: 6 runs of 6 kept points, z = 2/sqrt(1.2)
    rows = list(enumerate([1.0, 5.0, 2.0, 6.0, 3.0, 7.0]))
    df = spark.createDataFrame(rows, "k int, v double")
    r = runs_test(df, "k", "v").collect()[0]
    assert (r.n_pos, r.n_neg, r.runs) == (3, 3, 6)
    assert abs(r.z - 2.0 / math.sqrt(1.2)) < 1e-9
    # median tie drops; degenerate sigma -> NULL z
    df2 = spark.createDataFrame(list(enumerate([1.0, 2.0, 3.0])), "k int, v double")
    r2 = runs_test(df2, "k", "v").collect()[0]
    assert (r2.n_pos, r2.n_neg, r2.runs) == (1, 1, 2)
    assert r2.z is None


def test_max_drawdown_hand_computed(spark):
    from csp_gateway_spark.operators.analytics import max_drawdown

    vals = [10.0, 20.0, 15.0, 5.0, 18.0, 25.0, 12.0]
    df = spark.createDataFrame(list(enumerate(vals)), "k int, v double")
    r = max_drawdown(df, "k", "v").collect()[0]
    assert r.n == 7 and r.trough_key == 3
    assert r.peak == 20.0 and r.trough == 5.0 and r.drawdown == 15.0
    # monotone series -> zero drawdown at the first key
    df2 = spark.createDataFrame(list(enumerate([1.0, 2.0, 3.0])), "k int, v double")
    r2 = max_drawdown(df2, "k", "v").collect()[0]
    assert r2.drawdown == 0.0 and r2.trough_key == 0


def test_hhi_concentration_hand_computed(spark):
    from csp_gateway_spark.operators.analytics import hhi_concentration

    # g1: shares 50/30/20 -> HHI = 0.25+0.09+0.04 = 0.38; g2 monopoly
    rows = [
        ("g1", "a", 50.0), ("g1", "b", 30.0), ("g1", "c", 20.0),
        ("g2", "x", 7.0),
    ]
    df = spark.createDataFrame(rows, "g string, m string, v double")
    got = {r.grp: r for r in hhi_concentration(df, "g", "m", "v").collect()}
    assert got["g1"].members == 3 and abs(got["g1"].hhi - 0.38) < 1e-12
    assert got["g2"].members == 1 and abs(got["g2"].hhi - 1.0) < 1e-12


def test_cramers_v_hand_computed(spark):
    from csp_gateway_spark.operators.analytics import cramers_v

    # perfect association on a 2x2 -> chi2 = n, V = 1
    rows = [("x", "p")] * 5 + [("y", "q")] * 5
    df = spark.createDataFrame(rows, "a string, b string")
    r = cramers_v(df, "a", "b").collect()[0]
    assert (r.n, r.r, r.c) == (10, 2, 2)
    assert abs(r.chi2 - 10.0) < 1e-9 and abs(r.v - 1.0) < 1e-12
    # independence -> chi2 = 0
    rows2 = [("x", "p"), ("x", "q"), ("y", "p"), ("y", "q")]
    r2 = cramers_v(spark.createDataFrame(rows2, "a string, b string")).collect() if False else cramers_v(
        spark.createDataFrame(rows2, "a string, b string"), "a", "b"
    ).collect()[0]
    assert abs(r2.chi2) < 1e-12 and abs(r2.v) < 1e-12


def test_rmst_hand_computed(spark):
    from csp_gateway_spark.operators.analytics import rmst

    # events at 1,2 (no censoring), n=2: S(1)=0.5, S(2)=0
    # RMST(5) = 1 + 0.5*(2-1) + 0*(5-2) = 1.5
    df = spark.createDataFrame([(1, 0), (2, 0)], "dur int, cens int")
    r = rmst(df, "dur", "cens", tau=5).collect()[0]
    assert r.tau == 5 and r.steps == 2
    assert abs(r.rmst - 1.5) < 1e-12
    # censoring at 2 of 3 subjects: events 1,3; S(1)=2/3, S(3)=0
    # RMST(4) = 1 + (2/3)*(3-1) + 0 = 7/3
    df2 = spark.createDataFrame([(1, 0), (2, 1), (3, 0)], "dur int, cens int")
    r2 = rmst(df2, "dur", "cens", tau=4).collect()[0]
    assert abs(r2.rmst - 7.0 / 3.0) < 1e-12


def test_quadratic_trend_recovers_parabola(spark):
    from csp_gateway_spark.operators.analytics import quadratic_trend

    # y = 2 + 3x + 0.5x^2 exactly (2dp-exact at integer x)
    rows = [(x, 2.0 + 3.0 * x + 0.5 * x * x) for x in range(1, 30)]
    df = spark.createDataFrame(rows, "k int, v double")
    r = quadratic_trend(df, "k", "v").collect()[0]
    assert r.n == 29
    assert abs(r.b0 - 2.0) < 1e-6
    assert abs(r.b1 - 3.0) < 1e-7
    assert abs(r.b2 - 0.5) < 1e-8


def test_spearman_corr_hand_computed(spark):
    import math

    from csp_gateway_spark.operators.analytics import spearman_corr

    # monotone -> rho = 1 exactly
    rows = [(float(x), float(x * x)) for x in range(1, 6)]
    df = spark.createDataFrame(rows, "a double, b double")
    r = spearman_corr(df, "a", "b").collect()[0]
    assert r.n == 5 and abs(r.rho - 1.0) < 1e-12
    # ties: a=[1,1,2] (midranks 1.5,1.5,3) vs b=[3,4,5] -> 1.5/sqrt(3)
    df2 = spark.createDataFrame(
        [(1.0, 3.0), (1.0, 4.0), (2.0, 5.0)], "a double, b double"
    )
    r2 = spearman_corr(df2, "a", "b").collect()[0]
    assert abs(r2.rho - 1.5 / math.sqrt(3.0)) < 1e-12


def test_jarque_bera_hand_computed(spark):
    from csp_gateway_spark.operators.analytics import jarque_bera

    # symmetric 1..5: skew = 0, kurt = 1.7, jb = 5/6 * (1.3^2/4)
    df = spark.createDataFrame(
        [(k, float(k + 1)) for k in range(5)], "k int, v double"
    )
    r = jarque_bera(df, "k", "v").collect()[0]
    assert r.n == 5
    assert abs(r.skew) < 1e-12
    assert abs(r.kurt - 1.7) < 1e-12
    assert abs(r.jb - 5.0 / 6.0 * (1.3 * 1.3 / 4.0)) < 1e-12


def test_grubbs_hand_computed(spark):
    from csp_gateway_spark.operators.analytics import grubbs_test

    # [10,10,10,50]: s = 20, max dev 30 -> G = 1.5 at the 50's key
    df = spark.createDataFrame(
        [(0, 10.0), (1, 10.0), (2, 10.0), (3, 50.0)], "k int, v double"
    )
    r = grubbs_test(df, "k", "v").collect()[0]
    assert r.n == 4 and r.outlier_key == 3 and r.value == 50.0
    assert abs(r.g - 1.5) < 1e-12


def test_diff_in_diff_hand_computed(spark):
    from pyspark.sql import functions as F

    from csp_gateway_spark.operators.analytics import diff_in_diff

    rows = (
        [(1, 0, 10.0)] * 2 + [(1, 1, 20.0)] * 2
        + [(0, 0, 5.0)] * 3 + [(0, 1, 7.0)] * 3
    )
    df = spark.createDataFrame(rows, "t int, p int, v double")
    r = diff_in_diff(
        df, treated=F.col("t") == 1, post=F.col("p") == 1, value_col="v"
    ).collect()[0]
    assert r.n == 10
    assert abs(r.did - ((20.0 - 10.0) - (7.0 - 5.0))) < 1e-12


def test_holt_winters_vs_python_loop(spark):
    from csp_gateway_spark.operators.analytics import holt_winters

    m, a_, b_, g_ = 7, 0.5, 0.25, 0.25
    y = [10.0 + (t % m) * 2.0 + 0.3 * t + (0.7 if t % 3 == 0 else 0.0)
         for t in range(21)]
    l = sum(y[:m]) / m
    bb = (sum(y[m:2 * m]) / m - sum(y[:m]) / m) / m
    s = [y[i] - l for i in range(m)]
    for t in range(m, len(y)):
        pos = t % m
        so = s[pos]
        ln = a_ * (y[t] - so) + (1 - a_) * (l + bb)
        bn = b_ * (ln - l) + (1 - b_) * bb
        sn = g_ * (y[t] - ln) + (1 - g_) * so
        l, bb, s[pos] = ln, bn, sn
    expect = {h: l + h * bb + s[(len(y) + h - 1) % m] for h in range(1, 8)}
    df = spark.createDataFrame(list(enumerate(y)), "k int, v double")
    got = {r.h: r.forecast for r in holt_winters(df, "k", "v").collect()}
    for h in range(1, 8):
        assert abs(got[h] - expect[h]) < 1e-9, (h, got[h], expect[h])


def test_topk_overlap_hand_computed(spark):
    from pyspark.sql import functions as F

    from csp_gateway_spark.operators.analytics import topk_overlap

    # period 0 top-2: a(30), b(20); period 1 top-2: a(25), c(15)
    rows = [
        (0, "a", 30.0), (0, "b", 20.0), (0, "c", 5.0),
        (1, "a", 25.0), (1, "c", 15.0), (1, "b", 1.0),
    ]
    df = spark.createDataFrame(rows, "p int, k string, v double")
    r = topk_overlap(
        df, split=F.col("p") == 1, key_col="k", value_col="v", k=2
    ).collect()[0]
    assert (r.n_a, r.n_b, r.n_common) == (2, 2, 1)
    assert abs(r.jaccard - 1.0 / 3.0) < 1e-12
    # 'a' is rank 1 in both -> footrule 0
    assert r.footrule == 0


def test_cuped_hand_computed(spark):
    from pyspark.sql import functions as F

    from csp_gateway_spark.operators.analytics import cuped

    # users: (treat, x_pre, y_post): perfect x->y correlation so the
    # adjustment removes all covariate variance
    rows = [
        # u, t, period(0=pre,1=post), v
        (1, 1, 0, 10.0), (1, 1, 1, 20.0),
        (2, 1, 0, 20.0), (2, 1, 1, 30.0),
        (3, 0, 0, 10.0), (3, 0, 1, 15.0),
        (4, 0, 0, 20.0), (4, 0, 1, 25.0),
    ]
    df = spark.createDataFrame(rows, "u int, t int, p int, v double")
    r = cuped(
        df, "u", treated=F.col("t") == 1, post=F.col("p") == 1, value_col="v"
    ).collect()[0]
    # x = [10,20,10,20], y = [20,30,15,25]: cov = n*sxy - sx*sy
    # sxy = 200+600+150+500 = 1450; sx=60, sy=90 -> cov = 5800-5400 = 400
    # vx = 4*1000-3600 = 400 -> theta = 1
    assert r.n == 4 and abs(r.theta - 1.0) < 1e-12
    assert abs(r.m_treat - 25.0) < 1e-12 and abs(r.m_ctrl - 20.0) < 1e-12
    # x-bar_t = 15, x-bar = 15 -> no shift for treat; same for ctrl
    assert abs(r.m_treat_adj - 25.0) < 1e-12
    assert abs(r.m_ctrl_adj - 20.0) < 1e-12
    # vy = 4*(400+900+225+625) - 8100 = 500; rho^2 = 400^2/(400*500)
    assert abs(r.var_reduction - 160000.0 / 200000.0) < 1e-12


def test_croston_vs_python_loop(spark):
    from csp_gateway_spark.operators.analytics import croston

    # demands at days 1, 3, 6, 7 with sizes 4, 6, 2, 8
    rows = [(1, 4.0), (3, 6.0), (6, 2.0), (7, 8.0)]
    a_ = 0.5
    z, p = 4.0, 1.0  # q1 = 1 by convention
    for v, q in [(6.0, 2.0), (2.0, 3.0), (8.0, 1.0)]:
        z = a_ * v + (1 - a_) * z
        p = a_ * q + (1 - a_) * p
    df = spark.createDataFrame(rows, "k int, v double")
    r = croston(df, "k", "v").collect()[0]
    assert r.n_demands == 4
    assert abs(r.z - z) < 1e-12 and abs(r.p - p) < 1e-12
    assert abs(r.forecast - z / p) < 1e-12
    # zeros are ignored (intermittent semantics)
    df2 = spark.createDataFrame(rows + [(2, 0.0), (4, 0.0)], "k int, v double")
    r2 = croston(df2, "k", "v").collect()[0]
    assert r2.n_demands == 4 and abs(r2.z - z) < 1e-12


def test_wilcoxon_hand_computed(spark):
    import math

    from csp_gateway_spark.operators.analytics import wilcoxon_signed_rank

    # d = a-b: [1, -2, 3, 4] -> |d| ranks 1,2,3,4; W+ = 1+3+4 = 8
    rows = [(2.0, 1.0), (1.0, 3.0), (5.0, 2.0), (9.0, 5.0)]
    df = spark.createDataFrame(rows, "a double, b double")
    r = wilcoxon_signed_rank(df, "a", "b").collect()[0]
    assert r.n == 4 and abs(r.w_plus - 8.0) < 1e-12
    mu = 4 * 5 / 4.0
    sig2 = 4 * 5 * 9 / 24.0
    assert abs(r.z - (8.0 - mu) / math.sqrt(sig2)) < 1e-12
    # zero differences drop; ties share midranks
    rows2 = [(1.0, 1.0), (3.0, 1.0), (4.0, 2.0), (1.0, 4.0)]
    # d = [0(drop), 2, 2, -3]: |d| ranks 1.5,1.5,3 -> W+ = 3
    r2 = wilcoxon_signed_rank(
        spark.createDataFrame(rows2, "a double, b double"), "a", "b"
    ).collect()[0]
    assert r2.n == 3 and abs(r2.w_plus - 3.0) < 1e-12


def test_anova_f_hand_computed(spark):
    from csp_gateway_spark.operators.analytics import anova_f

    # g1=[1,2,3], g2=[4,5,6]: SSB = 13.5, SSW = 4, F = 13.5/(4/4)
    rows = [("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", 4.0), ("b", 5.0), ("b", 6.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    r = anova_f(df, "g", "v").collect()[0]
    assert (r.n, r.k) == (6, 2)
    assert abs(r.ssb - 13.5) < 1e-9
    assert abs(r.ssw - 4.0) < 1e-9
    assert abs(r.f - 13.5 / 1.0) < 1e-9


def test_packed_array_cap_guards_round8(spark):
    import csp_gateway_spark.operators.analytics as A_mod
    from csp_gateway_spark.operators.analytics import (
        holt_winters, jarque_bera, max_drawdown, runs_test,
    )

    old = A_mod.PACKED_ARRAY_CAP
    try:
        A_mod.PACKED_ARRAY_CAP = 3  # module default is read at call time
        series = spark.createDataFrame(
            [(k, float(k + 1)) for k in range(20)], "k int, v double"
        )
        for fn in (max_drawdown, jarque_bera, runs_test):
            with pytest.raises(Exception, match="PACKED_ARRAY_CAP"):
                fn(series, "k", "v").collect()
        with pytest.raises(Exception, match="PACKED_ARRAY_CAP"):
            holt_winters(series, "k", "v").collect()
    finally:
        A_mod.PACKED_ARRAY_CAP = old


def test_mann_kendall_hand_computed(spark):
    """y = [1, 2, 2, 3] over k = 1..4: S = 5 (five rising pairs, one
    tie), one tie group of 2 -> tt = 2*1*9 = 18,
    Var = (4*3*13 - 18)/18 = 138/18, Z = (5-1)/sqrt(138/18)."""
    import math

    from csp_gateway_spark.operators.analytics import mann_kendall

    df = spark.createDataFrame(
        [(1, 1.0), (2, 2.0), (3, 2.0), (4, 3.0)], "k int, y double"
    )
    r = mann_kendall(df, "k", "y").collect()[0]
    assert (r.n, r.s_stat) == (4, 5)
    assert abs(r.var_s - 138.0 / 18.0) < 1e-12
    assert abs(r.z - 4.0 / math.sqrt(138.0 / 18.0)) < 1e-12
    # perfectly decreasing: S = -(n choose 2), continuity corrects +1
    dec = spark.createDataFrame(
        [(1, 4.0), (2, 3.0), (3, 2.0), (4, 1.0)], "k int, y double"
    )
    r2 = mann_kendall(dec, "k", "y").collect()[0]
    assert r2.s_stat == -6 and r2.z < 0
    # constant series: S = 0, variance 0 after tie correction -> z null
    flat = spark.createDataFrame([(i, 5.0) for i in range(1, 5)], "k int, y double")
    r3 = mann_kendall(flat, "k", "y").collect()[0]
    assert r3.s_stat == 0 and r3.z is None


def test_token_coverage_hand_computed(spark):
    """counts a=5 b=4 c=3 d=1 e=1 (total 14): p=.5 -> rank2 (cum 9),
    p=.9 -> rank4 (cum 13), p=.99 -> rank5 (cum 14)."""
    from csp_gateway_spark.operators.corpus import token_coverage

    df = spark.createDataFrame(
        [(1, "a a a a b b c d"), (2, "a b b c c e")], "doc_id long, text string"
    )
    got = [tuple(r) for r in token_coverage(df, k=1).collect()]
    assert got == [(0.5, 2, 9, 14), (0.9, 4, 13, 14), (0.99, 5, 14, 14)]


def test_pettitt_hand_computed(spark):
    """Step series [1,1,1,5,5]: U_t peaks at the level shift.  For
    t=3 (last key of the low level): every (low, high) pair crossing
    t contributes +1 -> U_3 = 6 = K; split at key 3."""
    import math

    from csp_gateway_spark.operators.analytics import pettitt_test

    df = spark.createDataFrame(
        [(1, 1.0), (2, 1.0), (3, 1.0), (4, 5.0), (5, 5.0)], "k int, y double"
    )
    r = pettitt_test(df, "k", "y").collect()[0]
    assert (r.n, r.k_stat, r.split_key) == (5, 6, 3)
    expect = min(1.0, 2.0 * math.exp(-6.0 * 36 / (125.0 + 25.0)))
    assert abs(r.p_approx - expect) < 1e-12
    # constant series: K = 0, split at the smallest key by tie-break
    flat = spark.createDataFrame([(i, 2.0) for i in range(1, 6)], "k int, y double")
    r2 = pettitt_test(flat, "k", "y").collect()[0]
    assert r2.k_stat == 0 and r2.split_key == 1 and r2.p_approx == 1.0


def test_levene_test_hand_computed(spark):
    """A=[1,2,3] vs B=[10,20,30]: doubled deviations [2,0,2] vs
    [20,0,20] -> F = 216 / (269.333/4).  Same-spread groups give F=0."""
    from csp_gateway_spark.operators.analytics import levene_test

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", 10.0), ("b", 20.0), ("b", 30.0)],
        "g string, y double",
    )
    r = levene_test(df, "g", "y").collect()[0]
    assert (r.n, r.k) == (6, 2)
    assert abs(r.f - 216.0 / ((808.0 - 538.0 - 2.0 / 3.0) / 4.0)) < 1e-9
    same = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", 11.0), ("b", 12.0), ("b", 13.0)],
        "g string, y double",
    )
    r2 = levene_test(same, "g", "y").collect()[0]
    assert abs(r2.f) < 1e-12  # identical spreads -> zero between-group SS


# --- the distinct-value rank family: one null rule, one midrank ---------

_RANK_TWO = [
    "ks_test", "mann_whitney_u", "cvm_test", "wasserstein_distance",
    "brunner_munzel", "ansari_bradley", "energy_distance",
    "conover_squared_ranks", "yuen_trimmed_t",
]
_RANK_K = ["kruskal_wallis", "jonckheere_terpstra", "anderson_ksamp"]
_RANK_A = [1.0, 2.0, 2.0, 5.0, 7.0, 7.0]
_RANK_B = [3.0, 4.0, 2.0, 6.0, 6.0, 8.0]
_RANK_C = [0.5, 4.0, 9.0, 2.0]


def _rank_op(name, df):
    op = getattr(A, name)
    if name == "roc_auc":
        label = F.when(F.col("g") == "a", 1).when(F.col("g") == "b", 0)
        return op(df.select(F.col("v").alias("score"), label.alias("label")), "score", "label")
    if name in _RANK_K:
        return op(df, "g", "v", ["a", "b", "c"])
    return op(df, "g", "v", "a", "b")


@pytest.mark.parametrize("name", _RANK_TWO + _RANK_K + ["roc_auc"])
def test_rank_tests_ignore_null_rows(spark, name):
    """A row with a NULL value or a NULL group is not an observation:
    adding one of each leaves every rank test's result unchanged."""
    rows = [("a", v) for v in _RANK_A] + [("b", v) for v in _RANK_B]
    if name in _RANK_K:
        rows += [("c", v) for v in _RANK_C]
    schema = "g string, v double"
    clean = _rank_op(name, spark.createDataFrame(rows, schema)).collect()
    noisy = _rank_op(
        name, spark.createDataFrame(rows + [("a", None), (None, 5.0)], schema)
    ).collect()
    assert noisy == clean


_LABELS = ["g0", "g1", "g2", "g3"]


@st.composite
def _tie_heavy(draw):
    k = draw(st.integers(2, 4))
    row = st.tuples(
        st.one_of(st.none(), st.sampled_from(_LABELS + ["zz"])),
        st.one_of(st.none(), st.integers(0, 5)),
    )
    return _LABELS[:k], draw(st.lists(row, min_size=1, max_size=25))


@pytest.mark.parametrize("path", ["small", "bucketed"])
@given(case=_tie_heavy())
@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_rank_cells_matches_brute_force(spark, monkeypatch, path, case):
    """``_r2`` is twice the brute-force midrank and the counts, running
    counts and totals match plain Python, on both rank paths (a
    threshold of -1 sends every collapse down the bucketed one)."""
    if path == "bucketed":
        monkeypatch.setattr(A, "TARGET_ROWS_PER_BUCKET", -1)
    groups, rows = case
    df = spark.createDataFrame(rows, "g string, v long")
    ranked, n_cells, totals = A._rank_cells(df, "g", "v", groups)
    obs = [(g, v) for g, v in rows if g in groups and v is not None]
    ordered = sorted(v for _g, v in obs)
    # brute force: the midrank of v is the mean of its 1-based positions
    pos = {}
    for i, v in enumerate(ordered, start=1):
        pos.setdefault(v, []).append(i)
    assert totals == tuple(sum(g == grp for g, _v in obs) for grp in groups)
    assert n_cells == len(pos)
    got = sorted(ranked.collect(), key=lambda r: r["_v"])
    assert [r["_v"] for r in got] == sorted(pos)
    for r in got:
        v = r["_v"]
        assert 2 * sum(pos[v]) == r["_r2"] * len(pos[v])
        assert r["_t"] == len(pos[v])
        for i, grp in enumerate(groups):
            assert r[f"_c{i}"] == sum(g == grp and x == v for g, x in obs)
            assert r[f"_m{i}"] == sum(g == grp and x <= v for g, x in obs)
            assert r[f"_n{i}"] == totals[i]

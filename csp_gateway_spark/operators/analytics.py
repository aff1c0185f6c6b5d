"""Relational analytics query shapes (TPC-H-adapted) for the gateway's
batch surface.

The reference has no relational join operator (SURVEY §2.4 — stream
combination only), but BASELINE.json's north star is an analytics
engine usable on 100 TB, so the classic join/agg query shapes are
first-class here. Each function is written for scale:

- **dimension tables broadcast** (`region`, `nation`, filtered
  `customer`/`part` slices) — no shuffle of the fact table for the
  join, verified by ``plans.scale.assert_pushdown`` / plan audits;
- **filters applied before joins** so they reach the parquet scan
  (PushedFilters) and shrink the build side below the broadcast
  threshold at any SF;
- **decimal aggregation** — `SUM(double)` is accumulation-order
  dependent and would never hash-match a single-threaded oracle;
  casting the inputs to `decimal(18,2)` makes the result exact and
  associative, so partial (map-side) aggregation stays enabled;
- one shuffle per aggregation; `LIMIT`-ed results carry a
  deterministic tiebreaker key.

Reference parity note: these go beyond `csp_gateway`'s surface
(`csp_gateway/server/demo/omnibus.py:252-257` suggests joins are
user-space there); they are the additive SURVEY §7.8 set.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from csp_gateway_spark.plans.scale import TARGET_ROWS_PER_BUCKET, broadcast_dim

#: cap on single-row packed arrays (kaplan_meier step table,
#: mutual_information cell list).  These operators fold a
#: CARDINALITY-bounded array inside ONE row to pin FP order; if the
#: distinct-key count approaches data volume the packed row no longer
#: fits an executor and the plan is the wrong one — fail loudly with
#: the cap instead of OOMing a task.
PACKED_ARRAY_CAP = 1_000_000


def _capped_packed(arr: Column, what: str, cap: int | None = None) -> Column:
    """Runtime guard on a packed-array column: raises inside the plan
    (no extra job) when the array exceeds ``cap`` elements (defaults
    to the module-level ``PACKED_ARRAY_CAP``, read at call time)."""
    if cap is None:
        cap = PACKED_ARRAY_CAP
    msg = F.concat(
        F.lit(
            f"{what}: packed array exceeds PACKED_ARRAY_CAP={cap} (got "
        ),
        F.size(arr).cast("string"),
        F.lit(
            " elements) — the single-row fold is only valid for "
            "cardinality-bounded keys; reduce the domain or bucket first"
        ),
    )
    return F.when(F.size(arr) > F.lit(cap), F.raise_error(msg)).otherwise(arr)


__all__ = [
    "dec",
    "net_revenue",
    "shipping_priority",
    "local_supplier_volume",
    "volume_shipping",
    "returned_item_revenue",
    "promo_revenue_effect",
    "large_volume_orders",
    "brand_discount_revenue",
    "market_share",
    "product_type_profit",
    "customer_order_distribution",
    "top_supplier",
    "small_quantity_revenue",
    "sole_returned_supplier",
    "global_sales_opportunity",
    "min_cost_supplier",
    "important_parts",
    "linestatus_priority",
    "parts_supplier_counts",
    "promotion_candidates",
    "funnel",
    "retention_cohorts",
    "market_basket",
    "mad_outliers",
    "equi_width_histogram",
    "vwap",
    "key_skew",
    "fk_audit",
    "table_diff",
    "period_over_period",
    "pareto",
    "benford_report",
    "churn",
    "stickiness",
    "new_vs_returning",
    "rfm_segments",
    "cohort_ltv",
    "dup_invoices",
    "equi_depth_histogram",
    "mahalanobis_outliers",
]


def _finalize_bounded(out: "DataFrame") -> "DataFrame":
    """Materialize a BOUNDED-result plan (one row / a handful of rows)
    with AQE off and return the checkpointed frame bound to the
    caller's session.

    The rank/ECDF family's stages are collapse-bounded with known
    sizes, so AQE's per-stage re-optimization buys nothing and was
    measured at up to half the operator wall clock on local[32]; the
    values are partition-invariant exact sums, so the result is
    unchanged.  The job runs on the dedicated AQE-off
    ``session.bounded_session`` clone — the SHARED session's conf is
    never mutated, so concurrent queries on other threads are
    unaffected (the former scoped conf toggle was a race)."""
    from csp_gateway_spark.session import run_bounded

    return run_bounded(out)


def dec(c: str, scale: int = 2) -> Column:
    """Exact-arithmetic projection of a double column (see module doc)."""
    return F.col(c).cast(f"decimal(18,{scale})")


def net_revenue() -> Column:
    """`l_extendedprice * (1 - l_discount)` in exact decimal — the
    revenue measure shared by Q3/Q5/Q7/Q10/Q19 shapes."""
    return (dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))).cast("decimal(18,4)")


def shipping_priority(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    segment: str = "BUILDING",
    cutoff: str = "1997-03-15",
    k: int = 10,
) -> DataFrame:
    """TPC-H Q3 shape: top unshipped orders by revenue for one market
    segment. The segment filter reduces customer to ~1/5 before the
    join; orders filtered by date before joining lineitem."""
    cust = customer.filter(F.col("c_mktsegment") == segment).select("c_custkey")
    ords = orders.filter(F.col("o_orderdate") < F.lit(cutoff)).select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    li = lineitem.filter(F.col("l_shipdate") > F.lit(cutoff)).select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    return (
        li.join(ords, li.l_orderkey == ords.o_orderkey)
        .join(broadcast_dim(cust), ords.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.sum(net_revenue()).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(k)
    )


def local_supplier_volume(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    region_name: str = "ASIA",
    date_from: str = "1996-01-01",
    date_to: str = "1997-01-01",
) -> DataFrame:
    """TPC-H Q5 shape: revenue by nation where customer and supplier
    share the nation, customers restricted to one region. nation⨝region
    collapses to a broadcast key list; supplier and customer are
    SF-scaling, so their joins stay plain (broadcast_dim declines the
    hint — AQE broadcasts them at small SF, shuffles them at 100 TB)."""
    nations = nation.join(
        broadcast_dim(region.filter(F.col("r_name") == region_name)),
        nation.n_regionkey == F.col("r_regionkey"),
    ).select("n_nationkey", "n_name")
    ords = orders.filter(
        (F.col("o_orderdate") >= F.lit(date_from)) & (F.col("o_orderdate") < F.lit(date_to))
    ).select("o_orderkey", "o_custkey")
    return (
        lineitem.select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
        .join(ords, F.col("l_orderkey") == ords.o_orderkey)
        .join(broadcast_dim(supplier.select("s_suppkey", "s_nationkey")),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .join(broadcast_dim(customer.select("c_custkey", "c_nationkey")),
              (F.col("o_custkey") == F.col("c_custkey"))
              & (F.col("c_nationkey") == F.col("s_nationkey")))
        .join(broadcast_dim(nations), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.sum(net_revenue()).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


def volume_shipping(
    supplier: DataFrame,
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
    nation_a: str = "NATION_1",
    nation_b: str = "NATION_2",
) -> DataFrame:
    """TPC-H Q7 shape: trade volume between two nations by year and
    direction. The nation lookups broadcast; the nation-filtered
    supplier/customer sides are still SF-scaling, so their joins are
    left to AQE (broadcast_dim declines the hint on fact subtrees);
    the fact table shuffles once for lineitem⨝orders."""
    n1 = nation.filter(F.col("n_name").isin(nation_a, nation_b))
    supp = supplier.join(
        broadcast_dim(n1.select(F.col("n_nationkey").alias("sn_key"),
                                F.col("n_name").alias("supp_nation"))),
        F.col("s_nationkey") == F.col("sn_key"),
    ).select("s_suppkey", "supp_nation")
    cust = customer.join(
        broadcast_dim(n1.select(F.col("n_nationkey").alias("cn_key"),
                                F.col("n_name").alias("cust_nation"))),
        F.col("c_nationkey") == F.col("cn_key"),
    ).select("c_custkey", "cust_nation")
    return (
        lineitem.select("l_orderkey", "l_suppkey", "l_shipdate",
                        "l_extendedprice", "l_discount")
        .join(orders.select("o_orderkey", "o_custkey"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(broadcast_dim(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(broadcast_dim(cust), F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation",
                 F.year("l_shipdate").alias("l_year"))
        .agg(F.sum(net_revenue()).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def returned_item_revenue(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    nation: DataFrame,
    date_from: str = "1996-10-01",
    date_to: str = "1997-01-01",
    k: int = 20,
) -> DataFrame:
    """TPC-H Q10 shape: customers who returned items in a quarter,
    ranked by lost revenue."""
    ords = orders.filter(
        (F.col("o_orderdate") >= F.lit(date_from)) & (F.col("o_orderdate") < F.lit(date_to))
    ).select("o_orderkey", "o_custkey")
    li = lineitem.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    return (
        li.join(ords, li.l_orderkey == ords.o_orderkey)
        .join(customer.select("c_custkey", "c_name", "c_acctbal", "c_nationkey"),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(broadcast_dim(nation.select("n_nationkey", "n_name")),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(net_revenue()).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(k)
    )


def promo_revenue_effect(
    lineitem: DataFrame,
    part: DataFrame,
    date_from: str = "1996-09-01",
    date_to: str = "1996-10-01",
    promo_type: str = "PROMO",
) -> DataFrame:
    """TPC-H Q14 shape: share of revenue from promo parts in one month.
    The ratio is computed double-from-exact-decimal so it is
    bit-deterministic regardless of partitioning."""
    li = lineitem.filter(
        (F.col("l_shipdate") >= F.lit(date_from)) & (F.col("l_shipdate") < F.lit(date_to))
    ).select("l_partkey", "l_extendedprice", "l_discount")
    agg = (
        li.join(broadcast_dim(part.select("p_partkey", "p_type")),
                li.l_partkey == F.col("p_partkey"))
        .agg(
            F.sum(F.when(F.col("p_type") == promo_type, net_revenue())
                   .otherwise(F.lit(0).cast("decimal(18,4)"))).alias("promo_revenue"),
            F.sum(net_revenue()).alias("total_revenue"),
        )
    )
    return agg.select(
        "promo_revenue",
        "total_revenue",
        (F.col("promo_revenue").cast("double") * F.lit(100.0)
         / F.col("total_revenue").cast("double")).alias("promo_pct"),
    )


def large_volume_orders(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    min_qty: float = 300.0,
    k: int = 100,
) -> DataFrame:
    """TPC-H Q18 shape: orders whose total quantity exceeds a
    threshold. The HAVING subquery is a self-aggregation of lineitem —
    one shuffle on l_orderkey shared (via reuse) with the outer sum."""
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(F.sum(dec("l_quantity")).alias("total_qty"))
        .filter(F.col("total_qty") > min_qty)
    )
    return (
        big.join(orders.select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"),
                 big.l_orderkey == F.col("o_orderkey"))
        .join(broadcast_dim(customer.select("c_custkey", "c_name")),
              F.col("o_custkey") == F.col("c_custkey"))
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate",
                dec("o_totalprice").alias("o_totalprice"), "total_qty")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(k)
    )


def brand_discount_revenue(
    lineitem: DataFrame,
    part: DataFrame,
    terms: tuple = (
        ("Brand#11", 1, 15, 1.0, 15.0),
        ("Brand#19", 10, 30, 5.0, 25.0),
        ("Brand#23", 20, 50, 10.0, 40.0),
    ),
) -> DataFrame:
    """TPC-H Q19 shape: disjunction of (brand, size-range, qty-range)
    terms. The part-side predicate is pushed into the broadcast build;
    the lineitem qty bounds below the global min/max prune the scan."""
    min_q = min(t[3] for t in terms)
    max_q = max(t[4] for t in terms)
    pred = None
    for brand, size_lo, size_hi, qty_lo, qty_hi in terms:
        term = (
            (F.col("p_brand") == brand)
            & F.col("p_size").between(size_lo, size_hi)
            & F.col("l_quantity").between(qty_lo, qty_hi)
        )
        pred = term if pred is None else (pred | term)
    parts = part.filter(
        F.col("p_brand").isin([t[0] for t in terms])
    ).select("p_partkey", "p_brand", "p_size")
    return (
        lineitem.filter(F.col("l_quantity").between(min_q, max_q))
        .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
        .join(broadcast_dim(parts), F.col("l_partkey") == F.col("p_partkey"))
        .filter(pred)
        .agg(F.sum(net_revenue()).alias("revenue"), F.count(F.lit(1)).alias("n"))
    )


def market_share(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    supplier: DataFrame,
    part: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    target_nation: str = "NATION_1",
    region_name: str = "ASIA",
    part_type: str = "ECONOMY",
) -> DataFrame:
    """TPC-H Q8 shape: the target nation's share of revenue for one
    part type sold into one region, by order year. The conditional
    numerator keeps this a single aggregation — no self-join. part and
    the customer-side region restriction are broadcast; lineitem
    shuffles once (⨝orders) plus the final year group-by."""
    parts = part.filter(F.col("p_type") == part_type).select("p_partkey")
    region_cust = (
        customer.join(
            broadcast_dim(
                nation.join(
                    broadcast_dim(region.filter(F.col("r_name") == region_name)),
                    nation.n_regionkey == F.col("r_regionkey"),
                ).select("n_nationkey")
            ),
            customer.c_nationkey == F.col("n_nationkey"),
        ).select("c_custkey")
    )
    supp = supplier.join(
        broadcast_dim(nation.select(F.col("n_nationkey").alias("sn_key"),
                                    F.col("n_name").alias("supp_nation"))),
        supplier.s_nationkey == F.col("sn_key"),
    ).select("s_suppkey", "supp_nation")
    vol = net_revenue()
    return (
        lineitem.select("l_orderkey", "l_partkey", "l_suppkey",
                        "l_extendedprice", "l_discount")
        .join(broadcast_dim(parts), F.col("l_partkey") == F.col("p_partkey"))
        .join(orders.select("o_orderkey", "o_custkey", "o_orderdate"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(broadcast_dim(region_cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(broadcast_dim(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.sum(F.when(F.col("supp_nation") == target_nation, vol)
                   .otherwise(F.lit(0).cast("decimal(18,4)"))).alias("nation_volume"),
            F.sum(vol).alias("total_volume"),
        )
        .select(
            "o_year",
            "nation_volume",
            "total_volume",
            (F.col("nation_volume").cast("double")
             / F.col("total_volume").cast("double")).alias("mkt_share"),
        )
        .orderBy("o_year")
    )


def product_type_profit(
    lineitem: DataFrame,
    orders: DataFrame,
    supplier: DataFrame,
    part: DataFrame,
    nation: DataFrame,
    name_fragment: str = "red",
) -> DataFrame:
    """TPC-H Q9 shape, adapted: profit by supplier nation and year for
    parts whose name contains a fragment. The testdata has no partsupp
    table, so unit cost is `p_retailprice` instead of `ps_supplycost`
    (same plan shape: fact ⨝ broadcast part ⨝ orders for the date).
    profit = net revenue − retailprice·quantity, all decimal-exact."""
    parts = part.filter(F.col("p_name").contains(name_fragment)).select(
        "p_partkey", "p_retailprice"
    )
    supp = supplier.join(
        broadcast_dim(nation.select("n_nationkey", "n_name")),
        supplier.s_nationkey == F.col("n_nationkey"),
    ).select("s_suppkey", "n_name")
    profit = (
        net_revenue()
        - (dec("p_retailprice") * dec("l_quantity")).cast("decimal(18,4)")
    ).cast("decimal(18,4)")
    return (
        lineitem.select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
                        "l_extendedprice", "l_discount")
        .join(broadcast_dim(parts), F.col("l_partkey") == F.col("p_partkey"))
        .join(orders.select("o_orderkey", "o_orderdate"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(broadcast_dim(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.col("n_name").alias("nation"),
                 F.year("o_orderdate").alias("o_year"))
        .agg(F.sum(profit).alias("sum_profit"))
        .orderBy(F.asc("nation"), F.desc("o_year"))
    )


def customer_order_distribution(
    customer: DataFrame,
    orders: DataFrame,
    exclude_priority: str = "5-LOW",
) -> DataFrame:
    """TPC-H Q13 shape: distribution of customers by how many orders
    they placed, zero-order customers included — a left OUTER join
    (the one join kind the rest of the surface doesn't exercise), then
    two aggregations. Both group-bys hash-partition on keys that
    shrink monotonically (custkey → count), so the second shuffle is
    tiny at any scale."""
    ords = orders.filter(F.col("o_orderpriority") != exclude_priority).select(
        "o_orderkey", "o_custkey"
    )
    per_cust = (
        customer.select("c_custkey")
        .join(ords, customer.c_custkey == ords.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


def top_supplier(
    lineitem: DataFrame,
    supplier: DataFrame,
    date_from: str = "1996-01-01",
    date_to: str = "1996-04-01",
) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) with the maximum revenue over a
    quarter. The scalar-subquery max is a broadcast of a 1-row
    aggregate back onto the (already small) per-supplier revenue —
    the fact table is read once thanks to exchange reuse."""
    revenue = (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit(date_from)) & (F.col("l_shipdate") < F.lit(date_to))
        )
        .groupBy("l_suppkey")
        .agg(F.sum(net_revenue()).alias("total_revenue"))
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        revenue.join(broadcast_dim(max_rev),
                     revenue.total_revenue == F.col("max_revenue"))
        .join(broadcast_dim(supplier.select("s_suppkey", "s_name")),
              revenue.l_suppkey == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


def small_quantity_revenue(
    lineitem: DataFrame,
    part: DataFrame,
    brand: str = "Brand#23",
    fraction: float = 0.2,
) -> DataFrame:
    """TPC-H Q17 shape: average yearly revenue lost if small-quantity
    orders (below ``fraction`` of the part's average quantity) were not
    taken. The correlated scalar subquery becomes a per-part average
    computed on the brand-filtered slice and broadcast back — the big
    lineitem scan happens once per side but only the brand's partkeys
    survive the broadcast semi-join, so both scans prune."""
    parts = part.filter(F.col("p_brand") == brand).select("p_partkey")
    brand_lines = lineitem.join(
        broadcast_dim(parts), lineitem.l_partkey == F.col("p_partkey")
    ).select("l_partkey", "l_quantity", "l_extendedprice")
    avg_qty = (
        brand_lines.groupBy("l_partkey")
        .agg((F.avg("l_quantity") * F.lit(fraction)).alias("qty_threshold"))
        .withColumnRenamed("l_partkey", "t_partkey")
    )
    return (
        brand_lines.join(broadcast_dim(avg_qty),
                         F.col("l_partkey") == F.col("t_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            # exact decimal sum → double before the /7 division: decimal
            # division rounding is engine-specific, IEEE division is not
            (F.sum(dec("l_extendedprice")).cast("double") / F.lit(7.0))
            .alias("avg_yearly")
        )
    )


def sole_returned_supplier(
    lineitem: DataFrame,
    supplier: DataFrame,
    orders: DataFrame,
    order_status: str = "F",
    k: int = 100,
) -> DataFrame:
    """TPC-H Q21 shape, adapted: suppliers who were the *only* supplier
    with returned lines on a multi-supplier order (testdata has no
    commit/receipt dates, so "returned" replaces "late"). The classic
    EXISTS / NOT EXISTS pair is expressed as per-order supplier counts
    computed in one pass over lineitem — instead of two correlated
    self-joins, a single groupBy(l_orderkey) feeding a semi-join — so
    lineitem shuffles once on orderkey, then once more for the
    supplier ranking."""
    ords = orders.filter(F.col("o_orderstatus") == order_status).select("o_orderkey")
    li = lineitem.join(ords, lineitem.l_orderkey == ords.o_orderkey).select(
        "l_orderkey", "l_suppkey", "l_returnflag"
    )
    per_order = li.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(
            F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
        ).alias("n_ret_supp"),
        F.first(
            F.when(F.col("l_returnflag") == "R", F.col("l_suppkey")), ignorenulls=True
        ).alias("ret_suppkey"),
    )
    qualifying = per_order.filter(
        (F.col("n_supp") > 1) & (F.col("n_ret_supp") == 1)
    ).select(F.col("ret_suppkey").alias("l_suppkey"))
    return (
        qualifying.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(broadcast_dim(supplier.select("s_suppkey", "s_name")),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_name", "numwait")
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(k)
    )


def min_cost_supplier(
    lineitem: DataFrame,
    part: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    size: int = 15,
    type_suffix: str = "ECONOMY",
    region_name: str = "ASIA",
    k: int = 100,
) -> DataFrame:
    """TPC-H Q2 shape, adapted: for each part of a given size/type, the
    region's supplier offering the lowest observed price.  The testdata
    has no partsupp table, so the part↔supplier relation (and the cost)
    comes from lineitem history: cost = MIN(l_extendedprice) per
    (part, supplier).  The correlated MIN subquery becomes a per-part
    aggregate joined back — both sides of that join are already reduced
    to the filtered part slice, so only the (partkey, suppkey) rollup
    shuffles lineitem once."""
    parts = part.filter(
        (F.col("p_size") == size) & (F.col("p_type") == type_suffix)
    ).select("p_partkey", "p_name")
    region_supp = (
        supplier.join(
            broadcast_dim(
                nation.join(
                    broadcast_dim(region.filter(F.col("r_name") == region_name)),
                    nation.n_regionkey == F.col("r_regionkey"),
                ).select("n_nationkey", "n_name")
            ),
            supplier.s_nationkey == F.col("n_nationkey"),
        ).select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    offers = (
        lineitem.select("l_partkey", "l_suppkey", "l_extendedprice")
        .join(broadcast_dim(parts), F.col("l_partkey") == F.col("p_partkey"))
        .join(broadcast_dim(region_supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("p_partkey", "p_name", "s_suppkey", "s_name", "s_acctbal", "n_name")
        .agg(F.min(dec("l_extendedprice")).alias("min_cost"))
    )
    best = offers.groupBy(F.col("p_partkey").alias("b_partkey")).agg(
        F.min("min_cost").alias("best_cost")
    )
    return (
        offers.join(
            broadcast_dim(best),
            (F.col("p_partkey") == F.col("b_partkey")) & (F.col("min_cost") == F.col("best_cost")),
        )
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name", "min_cost")
        .orderBy(F.desc("s_acctbal"), F.asc("n_name"), F.asc("s_name"), F.asc("p_partkey"))
        .limit(k)
    )


def important_parts(
    lineitem: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    nation_name: str = "NATION_1",
    fraction: float = 0.001,
) -> DataFrame:
    """TPC-H Q11 shape, adapted: parts representing a significant share
    of one nation's traded value (value = Σ extendedprice·quantity from
    lineitem, standing in for partsupp supplycost·availqty).  The
    HAVING threshold is a 1-row scalar aggregate broadcast back; the
    per-part rollup shuffles the nation-filtered slice once."""
    nat_supp = supplier.join(
        broadcast_dim(nation.filter(F.col("n_name") == nation_name).select("n_nationkey")),
        supplier.s_nationkey == F.col("n_nationkey"),
    ).select("s_suppkey")
    value = (dec("l_extendedprice") * dec("l_quantity")).cast("decimal(18,4)")
    per_part = (
        lineitem.select("l_partkey", "l_suppkey", "l_extendedprice", "l_quantity")
        .join(broadcast_dim(nat_supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum(value).alias("part_value"))
    )
    threshold = per_part.agg(
        (F.sum("part_value").cast("double") * F.lit(fraction)).alias("threshold")
    )
    return (
        per_part.join(broadcast_dim(threshold),
                      per_part.part_value.cast("double") > F.col("threshold"))
        .select("l_partkey", "part_value")
        .orderBy(F.desc("part_value"), F.asc("l_partkey"))
    )


def linestatus_priority(
    lineitem: DataFrame,
    orders: DataFrame,
    date_from: str = "1996-01-01",
    date_to: str = "1997-01-01",
    urgent: tuple = ("1-URGENT", "2-HIGH"),
) -> DataFrame:
    """TPC-H Q12 shape, adapted: order-priority mix per lineitem class
    over a ship-date year (l_linestatus stands in for l_shipmode, which
    the testdata lacks).  One fact shuffle (join on orderkey), then a
    tiny group-by; the conditional counts are map-side partial."""
    li = lineitem.filter(
        (F.col("l_shipdate") >= F.lit(date_from)) & (F.col("l_shipdate") < F.lit(date_to))
    ).select("l_orderkey", "l_linestatus")
    is_urgent = F.col("o_orderpriority").isin(list(urgent))
    return (
        li.join(orders.select("o_orderkey", "o_orderpriority"),
                li.l_orderkey == F.col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(is_urgent, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(is_urgent, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


def parts_supplier_counts(
    lineitem: DataFrame,
    part: DataFrame,
    supplier: DataFrame,
    exclude_brand: str = "Brand#11",
    type_prefix: str = "PROMO",
    sizes: tuple = (1, 5, 9, 13, 17, 21, 25, 29),
) -> DataFrame:
    """TPC-H Q16 shape, adapted: how many distinct suppliers serve each
    (brand, type, size) combination, excluding one brand, one type
    prefix, and negative-balance suppliers (standing in for the
    complaint-comment exclusion).  The part↔supplier pairs come from
    lineitem's distinct (partkey, suppkey) projection — reduced
    map-side before the join, then one count-distinct shuffle."""
    parts = part.filter(
        (F.col("p_brand") != exclude_brand)
        & ~F.col("p_type").startswith(type_prefix)
        & F.col("p_size").isin(list(sizes))
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    good_supp = supplier.filter(F.col("s_acctbal") >= 0).select("s_suppkey")
    # broadcast-filter lineitem BEFORE any shuffle (a pre-distinct of the
    # raw (partkey, suppkey) pairs would shuffle the whole fact table);
    # countDistinct dedups suppliers per group with partial aggregation,
    # so the one shuffle moves only the ~|parts-slice| survivors
    return (
        lineitem.select("l_partkey", "l_suppkey")
        .join(broadcast_dim(parts), F.col("l_partkey") == F.col("p_partkey"))
        .join(broadcast_dim(good_supp), F.col("l_suppkey") == F.col("s_suppkey"), "left_semi")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), F.asc("p_brand"), F.asc("p_type"), F.asc("p_size"))
    )


def promotion_candidates(
    lineitem: DataFrame,
    part: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    name_fragment: str = "red",
    date_from: str = "1996-01-01",
    date_to: str = "1997-01-01",
    nation_name: str = "NATION_1",
    fraction: float = 0.5,
) -> DataFrame:
    """TPC-H Q20 shape, adapted: suppliers in one nation who moved more
    than ``fraction`` of their average per-supplier volume of a part
    family during a year (availqty having no table, the threshold is
    relative to the mean shipped quantity).  Inner semi-structure:
    part slice broadcast → per-supplier quantity rollup (one lineitem
    shuffle) → scalar mean broadcast → supplier join."""
    parts = part.filter(F.col("p_name").contains(name_fragment)).select("p_partkey")
    nat_supp = supplier.join(
        broadcast_dim(nation.filter(F.col("n_name") == nation_name).select("n_nationkey")),
        supplier.s_nationkey == F.col("n_nationkey"),
    ).select("s_suppkey", "s_name")
    per_supp = (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit(date_from)) & (F.col("l_shipdate") < F.lit(date_to))
        )
        .select("l_partkey", "l_suppkey", "l_quantity")
        .join(broadcast_dim(parts), F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .groupBy("l_suppkey")
        .agg(F.sum(dec("l_quantity")).alias("qty"))
    )
    # exact decimal sum / count, divided in IEEE double: deterministic
    # regardless of partitioning (a double AVG would sum in partition order)
    mean_qty = per_supp.agg(
        (F.sum("qty").cast("double") / F.count(F.lit(1)) * F.lit(fraction)).alias("threshold")
    )
    return (
        per_supp.join(broadcast_dim(mean_qty), F.col("qty").cast("double") > F.col("threshold"))
        .join(broadcast_dim(nat_supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_name", "qty")
        .orderBy(F.asc("s_name"))
    )


def global_sales_opportunity(
    customer: DataFrame,
    orders: DataFrame,
    nation_keys: tuple = (1, 2, 3, 4, 5),
    priority: str = "1-URGENT",
) -> DataFrame:
    """TPC-H Q22 shape: wealthy customers (balance above the positive
    average in selected nations) with no order of the given priority —
    by nation. (The classic "never ordered" predicate is empty on the
    synthetic data, where every customer orders; restricting to one
    priority keeps the NOT EXISTS non-trivial.) The scalar subquery is
    a 1-row broadcast; the NOT EXISTS is a left ANTI join against the
    filtered orders key projection (shuffled once on custkey; at scale
    this is the one unavoidable exchange)."""
    cust = customer.filter(F.col("c_nationkey").isin(list(nation_keys))).select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    return (
        cust.join(broadcast_dim(avg_bal), F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders.filter(F.col("o_orderpriority") == priority).select("o_custkey"),
              F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(dec("c_acctbal")).alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


def profile_table(df, cols=None, exact: bool = True):
    """ANALYZE-style column profile: one row per column with row
    count, null count, distinct count, and min/max (rendered as
    strings so every column type fits one report schema) — the data-
    quality summary a pipeline publishes next to each table it writes
    (pairs with ``sources/contract.py``: the contract says what a
    table MUST look like, the profile says what it DOES look like).

    Counts/nulls/min/max come from ONE aggregation pass (no expand);
    exact distincts come from a UNION of per-column two-phase
    distinct aggregates — because N exact ``countDistinct`` in a
    single global aggregate plan as an N-way row expand funneled into
    one reducer (measured 4× the whole profile's cost at sf0.1,
    and strictly worse with scale).  Each branch scans exactly one
    parquet column (pruned — same total bytes as one wide scan),
    keeps its native type, and shuffles only the column's distinct
    values with map-side combine.  ``exact=False`` swaps the union
    for HLL++ ``approx_count_distinct`` in the same single pass — the
    100 TB default, where a ±2 % estimate is worth skipping the
    second scan.  The stack() unpivot is driver-free."""
    from pyspark.sql import functions as F

    cols = list(cols or df.columns)
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in cols:
        aggs += [
            F.count(F.col(c)).alias(f"_nn_{c}"),
            F.min(F.col(c)).cast("string").alias(f"_min_{c}"),
            F.max(F.col(c)).cast("string").alias(f"_max_{c}"),
        ]
        if not exact:
            aggs.append(F.approx_count_distinct(F.col(c)).alias(f"_nd_{c}"))
    one = df.agg(*aggs)
    if exact:
        from functools import reduce

        branches = [
            df.select(F.col(c))
            .where(F.col(c).isNotNull())
            .groupBy(c)
            .agg(F.lit(1))
            .agg(F.count(F.lit(1)).alias("_nd"))
            .select(F.lit(c).alias("col_name"), "_nd")
            for c in cols
        ]
        nd = reduce(lambda a, b: a.unionAll(b), branches)
        parts = ", ".join(f"'{c}', _nn_{c}, _min_{c}, _max_{c}" for c in cols)
        base = one.selectExpr(
            "_n AS n_rows",
            f"stack({len(cols)}, {parts}) AS (col_name, n_present, min_str, max_str)",
        )
        return base.join(F.broadcast(nd), "col_name", "left").selectExpr(
            "col_name",
            "n_rows",
            "CAST(n_rows - n_present AS BIGINT) AS n_nulls",
            "CAST(coalesce(_nd, 0) AS BIGINT) AS n_distinct",
            "min_str",
            "max_str",
        )
    parts = ", ".join(
        f"'{c}', _nn_{c}, _nd_{c}, _min_{c}, _max_{c}" for c in cols
    )
    return one.selectExpr(
        "_n AS n_rows",
        f"stack({len(cols)}, {parts}) AS (col_name, n_present, n_distinct, min_str, max_str)",
    ).selectExpr(
        "col_name",
        "n_rows",
        "CAST(n_rows - n_present AS BIGINT) AS n_nulls",
        "CAST(n_distinct AS BIGINT) AS n_distinct",
        "min_str",
        "max_str",
    )


def winsorize(df, cols, lower: float = 0.01, upper: float = 0.99,
              keep_bounds: bool = False, bounds: dict | None = None):
    """Percentile winsorization: clip each numeric column to its
    [lower, upper] quantiles — the outlier treatment applied to
    feature columns (lengths, scores, prices) before they feed
    mixing weights or model training, where one corrupt row would
    otherwise drag a mean or a normalization constant.

    Exact ``percentile`` bounds computed for ALL columns in ONE
    aggregation, cross-joined back as a 1-row broadcast (no driver
    round-trip), then a scan-local ``least/greatest`` clip.  At
    100 TB swap ``percentile`` for ``approx_percentile`` — same plan
    shape, sketch-sized state.  Adds ``<col>_lo``/``<col>_hi`` bound
    columns only when ``keep_bounds``; otherwise returns the clipped
    frame with the original schema.
    """
    from pyspark.sql import functions as F

    cols = list(cols)
    # one percentile aggregate per column with BOTH probe points: each
    # exact-percentile aggregate holds a full value->count map, so two
    # separate aggs per column doubled the final reducer's state.
    # ``bounds``: optional {col: (lo, hi)} pre-computed floats (must
    # be bit-identical to what the aggregate would return, e.g. from
    # probe_order_stats + the percentile interpolation formula) —
    # those columns skip the aggregate entirely.
    pre = bounds or {}
    agg_cols = [c for c in cols if c not in pre]
    aggs = [
        F.expr(f"percentile({c}, array({float(lower)}, {float(upper)}))").alias(
            f"_b_{c}"
        )
        for c in agg_cols
    ]
    lit_sel = [
        x
        for c in cols
        if c in pre
        for x in (
            F.lit(float(pre[c][0])).alias(f"_lo_{c}"),
            F.lit(float(pre[c][1])).alias(f"_hi_{c}"),
        )
    ]
    if agg_cols:
        bframe = df.agg(*aggs).select(
            *[F.col(f"_b_{c}")[0].alias(f"_lo_{c}") for c in agg_cols],
            *[F.col(f"_b_{c}")[1].alias(f"_hi_{c}") for c in agg_cols],
            *lit_sel,
        )
        out = df.crossJoin(F.broadcast(bframe))
    else:
        out = df.select("*", *lit_sel)
    for c in cols:
        clipped = F.least(
            F.greatest(F.col(c).cast("double"), F.col(f"_lo_{c}")), F.col(f"_hi_{c}")
        )
        out = out.withColumn(c, clipped)
    if keep_bounds:
        for c in cols:
            out = out.withColumnRenamed(f"_lo_{c}", f"{c}_lo").withColumnRenamed(
                f"_hi_{c}", f"{c}_hi"
            )
        return out
    return out.drop(*[f"_lo_{c}" for c in cols], *[f"_hi_{c}" for c in cols])


def funnel(
    events: DataFrame,
    stages,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """First-touch funnel: for each stage k, count users whose FIRST
    occurrence of every stage 1..k happened in non-decreasing time
    order (min-ts ordering — the open-funnel semantics analytics UIs
    default to).  The gateway's event stream (`events` channel) is the
    input; this is the conversion report every product dashboard runs.

    ONE shuffle: a single groupBy(user) computes each stage's first
    timestamp as a conditional min (map-side partial agg), the
    per-stage reach flags are pure projection, and the final counts
    are a 1-row global aggregate — no joins, no windows, so the plan
    is a two-stage tree that survives any corpus size.  Output:
    (stage_idx, stage, users, conv) where conv = users_k / users_1
    computed as one double division (identical FP operands either
    engine).
    """
    stages = list(stages)
    ts = F.col(ts_col)
    firsts = events.groupBy(user_col).agg(
        *[
            F.min(F.when(F.col(type_col) == s, ts)).alias(f"_t{i}")
            for i, s in enumerate(stages)
        ]
    )
    reach = []
    cond = F.col("_t0").isNotNull()
    reach.append(cond)
    for i in range(1, len(stages)):
        cond = cond & F.col(f"_t{i}").isNotNull() & (
            F.col(f"_t{i}") >= F.col(f"_t{i-1}")
        )
        reach.append(cond)
    counts = firsts.agg(
        *[F.sum(r.cast("long")).alias(f"_n{i}") for i, r in enumerate(reach)]
    )
    return counts.selectExpr(
        f"stack({len(stages)}, "
        + ", ".join(f"{i + 1}, '{s}', _n{i}" for i, s in enumerate(stages))
        + ") AS (stage_idx, stage, users)",
        "_n0 AS _first",
    ).selectExpr(
        "stage_idx",
        "stage",
        "CAST(users AS BIGINT) AS users",
        "CAST(users AS DOUBLE) / CAST(_first AS DOUBLE) AS conv",
    )


def retention_cohorts(
    orders: DataFrame,
    cust_col: str = "o_custkey",
    date_col: str = "o_orderdate",
) -> DataFrame:
    """Cohort retention triangle: customers grouped by first-order
    month (the cohort), counted by how many months later they ordered
    again — the classic retention heatmap input.

    Two shuffles total, both on bounded keys: a window over
    ``cust_col`` (same hash partitioning a groupBy-join would need,
    minus the join) pins each row's cohort month, then one groupBy on
    (cohort_month, month_offset) distinct-counts customers.  Month
    arithmetic is integer (no FP), so results are engine-exact."""
    from pyspark.sql import Window

    month = F.date_trunc("month", F.col(date_col))
    w = Window.partitionBy(cust_col)
    rows = orders.withColumn("_m", month).withColumn(
        "_cohort", F.min("_m").over(w)
    )
    offset = (
        (F.year("_m") - F.year("_cohort")) * 12 + F.month("_m") - F.month("_cohort")
    )
    return (
        rows.withColumn("month_offset", offset.cast("int"))
        .groupBy(F.col("_cohort").alias("cohort_month"), "month_offset")
        .agg(F.countDistinct(cust_col).alias("customers"))
    )


def market_basket(
    lineitem: DataFrame,
    order_col: str = "l_orderkey",
    item_col: str = "l_partkey",
    k: int = 20,
    min_support: int = 1,
) -> DataFrame:
    """Frequent co-purchased item pairs with lift — market-basket
    affinity over the order fact table.

    The pair generator is ONE hash shuffle on ``order_col`` into
    per-order sorted item sets, expanded to ordered pairs SCAN-LOCALLY
    with array higher-order functions — the blow-up is bounded by
    per-order line count (≤7 in TPC-H-shaped data), NOT corpus size,
    so candidate cost is Σ|order|² over orders with no self-join (the
    r14 rewrite dropped the distinct + two-sided ``_ord`` self-join:
    3 exchanges over the fact table → 1).  Item popularity joins are
    left UN-hinted (r15, VERDICT r14 #3): item cardinality grows with
    SF (TPC-H partkey ≈ 200k×SF — multi-GB at the 100 TB design
    point), so a forced broadcast OOMs the build side exactly where
    the broadcast_dim guard declines fact-scaling frames; AQE's
    runtime conversion still broadcasts it from REAL sizes wherever
    it fits (every local/sf run), and falls back to a shuffled join
    above the threshold.  The order total stays a forced 1-row
    broadcast aggregate, and the top-k compiles to
    TakeOrderedAndProject.  Lift is a single FP expression over exact
    integer counts, so it is engine-exact."""
    baskets = (
        lineitem.select(
            F.col(order_col).alias("_ord"), F.col(item_col).alias("_item")
        )
        .groupBy("_ord")
        .agg(F.sort_array(F.collect_set("_item")).alias("_items"))
    )
    # materialize once: the basket table feeds THREE consumers (pair
    # expansion, item popularity, order total) and AQE's broadcast
    # conversions defeat exchange reuse between them — same rationale
    # as the LSH pair pipeline's checkpoint
    baskets = baskets.localCheckpoint(eager=False)
    # sorted distinct items ⇒ every (x, y) with x before y in the
    # array is exactly the `a._item < b._item` pair of the self-join
    # formulation, once per order containing both
    pair_counts = (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(_items, (x, i) -> "
                    "transform(slice(_items, i + 2, size(_items)), "
                    "y -> struct(x AS item_a, y AS item_b))))"
                )
            ).alias("_p")
        )
        .select("_p.item_a", "_p.item_b")
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= min_support)
    )
    item_counts = (
        baskets.select(F.explode("_items").alias("_item"))
        .groupBy(F.col("_item"))
        .agg(F.count(F.lit(1)).alias("_n_item"))
    )
    n_orders = baskets.agg(F.count(F.lit(1)).alias("_n_orders"))
    out = (
        pair_counts.join(
            item_counts.withColumnRenamed("_n_item", "_na"),
            F.col("item_a") == F.col("_item"),
        )
        .drop("_item")
        .join(
            item_counts.withColumnRenamed("_n_item", "_nb"),
            F.col("item_b") == F.col("_item"),
        )
        .drop("_item")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "item_a",
            "item_b",
            "n_pair",
            (
                F.col("n_pair").cast("double")
                * F.col("_n_orders").cast("double")
                / (F.col("_na").cast("double") * F.col("_nb").cast("double"))
            ).alias("lift"),
        )
    )
    return out.orderBy(
        F.desc("n_pair"), F.asc("item_a"), F.asc("item_b")
    ).limit(k)


def mad_outliers(
    df: DataFrame,
    value_col: str,
    group_col: str = "source",
    n_mads: float = 3.0,
) -> DataFrame:
    """Robust per-group outlier report via Median Absolute Deviation:
    med = median(x), mad = median(|x − med|), outlier ⇔
    |x − med| > n_mads·mad.  The robust alternative to 3σ when the
    column is heavy-tailed (doc lengths, prices) — one corrupt row
    moves a mean, not a median.

    Two grouped exact-percentile aggregations (each a single shuffle
    on ``group_col``) with the tiny per-group median table broadcast
    back between them — the fact table is scanned twice but never
    joined shuffle-to-shuffle.  At 100 TB swap ``percentile`` for
    ``approx_percentile`` (same plan, sketch state).  Integer inputs
    make every median a binary-exact x.0/x.5 double, so the report is
    engine-exact."""
    x = F.col(value_col).cast("double")
    med = df.groupBy(group_col).agg(
        F.expr(f"percentile({value_col}, 0.5)").alias("med")
    )
    with_med = df.join(F.broadcast(med), group_col)
    dev = F.abs(x - F.col("med"))
    mad = with_med.groupBy(group_col).agg(
        F.expr(f"percentile(abs(CAST({value_col} AS DOUBLE) - med), 0.5)").alias("mad")
    )
    full = with_med.join(F.broadcast(mad), group_col)
    return full.groupBy(group_col).agg(
        F.min("med").alias("med"),
        F.min("mad").alias("mad"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum((dev > F.lit(float(n_mads)) * F.col("mad")).cast("long")).alias(
            "n_outliers"
        ),
    )


def equi_width_histogram(
    df: DataFrame,
    value_col: str,
    group_col: str,
    bins: int = 20,
) -> DataFrame:
    """Per-group equi-width histogram: ``bins`` equal buckets between
    the group's min and max, with bucket bounds in the output — the
    distribution view `profile_table`'s min/max can't give.

    Plan: one grouped min/max aggregate broadcast back onto the scan,
    then one (group, bin) count — two shuffles, both on small keys,
    partial aggregation map-side.  Bin index is integer floor over a
    single double expression (identical FP ops either engine); the
    max value clamps into the last bin; a constant column
    (min == max) degenerates to bin 0."""
    v = F.col(value_col).cast("double")
    rng = df.groupBy(group_col).agg(
        F.min(v).alias("_lo"), F.max(v).alias("_hi")
    )
    width = (F.col("_hi") - F.col("_lo")) / F.lit(float(bins))
    bin_ = F.when(F.col("_hi") == F.col("_lo"), F.lit(0)).otherwise(
        F.least(F.lit(bins - 1), F.floor((v - F.col("_lo")) / width))
    )
    return (
        df.join(F.broadcast(rng), group_col)
        .withColumn("bin", bin_.cast("int"))
        .groupBy(group_col, "bin")
        .agg(F.count(F.lit(1)).alias("n"))
        .join(F.broadcast(rng), group_col)
        .select(
            group_col,
            "bin",
            (F.col("_lo") + F.col("bin").cast("double") * width).alias("bin_lo"),
            "n",
        )
    )


def vwap(
    df: DataFrame,
    group_col: str = "l_partkey",
    notional_col: str = "l_extendedprice",
    qty_col: str = "l_quantity",
    k: int = 25,
) -> DataFrame:
    """Volume-weighted average price per group (Σ notional / Σ qty),
    top-k groups by notional — the canonical trading analytic over the
    fact table.  Decimal sums (exact, order-independent, map-side
    combinable); the ratio is ONE double division of the exact sums,
    so it is engine-identical.  Top-k compiles to TakeOrdered."""
    out = df.groupBy(group_col).agg(
        F.sum(dec(notional_col)).alias("_notional"),
        F.sum(dec(qty_col)).alias("_qty"),
    )
    return (
        out.select(
            group_col,
            F.col("_notional").alias("notional"),
            F.col("_qty").alias("qty"),
            (
                F.col("_notional").cast("double") / F.col("_qty").cast("double")
            ).alias("vwap"),
        )
        .orderBy(F.desc("notional"), F.asc(group_col))
        .limit(k)
    )


def key_skew(df: DataFrame, key_col: str, topk: int = 10) -> DataFrame:
    """Partition-key skew report: the ``topk`` heaviest keys with
    their row share, plus the Herfindahl concentration index of the
    whole key distribution — the diagnostic to run BEFORE keying a
    shuffle on a column at 100 TB (a hot key → straggler task; HHI
    near 1 → salting required).

    One groupBy(key) shuffle feeds both the 1-row moment aggregate
    (Σn, Σn² — n² in decimal(38,0): a 4-billion-row key would
    overflow int64) and the TakeOrdered top-k; Catalyst reuses the
    exchange.  share and hhi are single divisions of exact integers.
    """
    counts = df.groupBy(key_col).agg(F.count(F.lit(1)).alias("n"))
    n19 = F.col("n").cast("decimal(19,0)")
    moments = counts.agg(
        F.sum("n").alias("_total"),
        F.sum(n19 * n19).alias("_ss"),
        F.count(F.lit(1)).alias("_n_keys"),
    )
    top = counts.orderBy(F.desc("n"), F.asc(key_col)).limit(topk)
    return top.crossJoin(F.broadcast(moments)).select(
        key_col,
        "n",
        (F.col("n").cast("double") / F.col("_total").cast("double")).alias("share"),
        F.col("_n_keys").alias("n_keys"),
        (
            F.col("_ss").cast("double")
            / (F.col("_total").cast("double") * F.col("_total").cast("double"))
        ).alias("hhi"),
    )


def fk_audit(
    child: DataFrame,
    parent: DataFrame,
    fk: str,
    pk: str,
    relation: str = "child->parent",
) -> DataFrame:
    """Referential-integrity audit for one foreign-key relation:
    child row count and orphan count (fk value absent from the parent
    key set) — the nightly data-quality gate between pipeline stages.

    One join: the DISTINCT parent keys (a key dim, broadcast when it
    fits, else shuffle co-partitioned with the probe) left-joined
    under the child, then a single aggregate.  No anti-join + second
    count pass — all numbers come out of one scan.

    SQL FK semantics: a NULL fk is NOT a violation (NULL never
    equi-joins, so it can't prove a missing parent) — those rows are
    reported separately as ``n_null_fk``; ``n_orphans`` counts only
    non-null fks with no parent."""
    keys = parent.select(F.col(pk).alias("_pk")).distinct()
    j = child.select(F.col(fk).alias("_fk")).join(
        keys, F.col("_fk") == F.col("_pk"), "left"
    )
    return j.agg(
        F.lit(relation).alias("relation"),
        F.count(F.lit(1)).alias("n_child"),
        # coalesce: SUM over an EMPTY child is NULL, but "no rows" must
        # report zero orphans / zero null fks, not unknown
        F.coalesce(
            F.sum(
                (F.col("_fk").isNotNull() & F.col("_pk").isNull()).cast("long")
            ),
            F.lit(0),
        ).alias("n_orphans"),
        F.coalesce(
            F.sum(F.col("_fk").isNull().cast("long")), F.lit(0)
        ).alias("n_null_fk"),
    ).select("relation", "n_child", "n_orphans", "n_null_fk")


def table_diff(
    a: DataFrame,
    b: DataFrame,
    key: str,
    compare_cols,
) -> DataFrame:
    """Snapshot reconciliation summary: counts of added / removed /
    changed / unchanged keys between two versions of a table — the
    check a pipeline runs after a backfill or migration before
    swapping a table pointer.

    ONE full-outer join on the key (co-partitioned shuffle both
    sides) and one tiny groupBy; row classification is a scan-local
    expression using null-safe equality, so nulls in compared columns
    diff correctly."""
    compare_cols = list(compare_cols)
    left = a.select(
        F.col(key).alias("_ka"),
        *[F.col(c).alias(f"_a_{c}") for c in compare_cols],
    )
    right = b.select(
        F.col(key).alias("_kb"),
        *[F.col(c).alias(f"_b_{c}") for c in compare_cols],
    )
    j = left.join(right, F.col("_ka") == F.col("_kb"), "full_outer")
    same = F.lit(True)
    for c in compare_cols:
        same = same & F.col(f"_a_{c}").eqNullSafe(F.col(f"_b_{c}"))
    change = (
        F.when(F.col("_ka").isNull(), F.lit("added"))
        .when(F.col("_kb").isNull(), F.lit("removed"))
        .when(same, F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return (
        j.withColumn("change_type", change)
        .groupBy("change_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def period_over_period(
    df: DataFrame,
    date_col: str = "o_orderdate",
    value_col: str = "o_totalprice",
) -> DataFrame:
    """Month-over-month revenue report: monthly exact-decimal totals
    with previous-month, absolute delta and percent change — the
    trend table behind every KPI dashboard.

    The heavy work is ONE grouped decimal aggregation; the lag window
    then runs over the POST-AGGREGATION month rows (dozens, not the
    fact table), so the unpartitioned window is bounded by the date
    range, never data volume.  Deltas/ratios are single FP ops on
    exact-decimal-valued doubles: engine-identical."""
    from pyspark.sql import Window

    monthly = (
        df.groupBy(F.date_trunc("month", F.col(date_col)).alias("_m"))
        .agg(F.sum(dec(value_col)).alias("_rd"))
        .select(
            F.date_format("_m", "yyyy-MM").alias("month"),
            F.col("_rd").cast("double").alias("revenue"),
        )
    )
    w = Window.orderBy("month")
    prev = F.lag("revenue").over(w)
    return monthly.select(
        "month",
        "revenue",
        prev.alias("prev"),
        (F.col("revenue") - prev).alias("delta"),
        F.round((F.col("revenue") - prev) / prev, 8).alias("pct"),
    )


def pareto(
    df: DataFrame,
    key_col: str = "l_partkey",
    value_col: str = "l_extendedprice",
    buckets: int = 10,
) -> DataFrame:
    """Concentration (Pareto) report: rank keys by their exact-decimal
    value total, split into ``buckets`` equal-count tiers, and report
    each tier's key count, value and share of total — "do 20 % of
    parts carry 80 % of revenue".

    The fact table collapses to one row per key first (one shuffle,
    map-side combined); the global value order is then computed by
    ``plans.scale.global_row_number`` — range-bucketed two-phase rank
    (broadcast min/max cutoffs + partitioned per-bucket row_number +
    broadcast offsets), so even the key dimension never funnels
    through one task — and ``ntile_from_rank`` reproduces ntile's
    remainder rule exactly.  Share is one double division of exact
    decimal sums."""
    from csp_gateway_spark.plans.scale import global_row_number, ntile_from_rank

    # checkpoint the collapsed key dimension once; ONE stats pass over
    # it carries the rank cutoffs AND the grand total (exact decimal,
    # associative), so no separate total aggregate + broadcast join —
    # the total rides the already-broadcast stats row through the rank
    per_key = df.groupBy(key_col).agg(
        F.sum(dec(value_col)).alias("_rev")
    ).localCheckpoint(eager=False)
    stats = per_key.agg(
        F.min("_rev").alias("_gr_mn"),
        F.max("_rev").alias("_gr_mx"),
        F.count(F.lit(1)).alias("_n_total"),
        F.sum("_rev").alias("_tot"),
    )
    ranked = global_row_number(
        per_key, "_rev", [key_col], rn_col="_rn", ascending=False,
        stats_df=stats,
    )
    tiers = ranked.withColumn(
        "decile", ntile_from_rank("_rn", "_n_total", buckets)
    )
    d = tiers.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("_rev").alias("_revd"),
        F.max("_tot").alias("_tot"),
    )
    return d.select(
        "decile",
        "n_keys",
        F.col("_revd").cast("double").alias("revenue"),
        F.round(
            F.col("_revd").cast("double") / F.col("_tot").cast("double"), 8
        ).alias("share"),
    )


def benford_report(
    df: DataFrame,
    value_col: str,
    expected_digits: int = 9,
) -> DataFrame:
    """Benford's-law first-digit audit: observed leading-digit share
    of a positive numeric column vs the log10(1 + 1/d) expectation —
    the classic fabricated-numbers screen for financial columns.

    Digit extraction is string-typed integer truncation (no float
    log10 in the hot path — exact for any magnitude); one tiny
    groupBy + a 1-row broadcast total; observed share and expected
    share are single FP expressions over exact integers."""
    # floor() first: a bare double->bigint cast TRUNCATES in Spark but
    # ROUNDS in DuckDB/ANSI, flipping 9999.9 between digit 9 and 1
    digit = F.substring(
        F.floor(F.col(value_col)).cast("bigint").cast("string"), 1, 1
    ).cast("int")
    counts = (
        df.filter(F.col(value_col) >= 1)
        .withColumn("digit", digit)
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = counts.agg(F.sum("n").alias("_total"))
    return counts.crossJoin(F.broadcast(total)).select(
        "digit",
        "n",
        (F.col("n").cast("double") / F.col("_total").cast("double")).alias(
            "observed"
        ),
        F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit").cast("double")).alias(
            "expected"
        ),
    )


def churn(
    df: DataFrame,
    user_col: str,
    month: Column,
) -> DataFrame:
    """Monthly churn: of the users active in month m, how many were
    also active in m+1 (retained) and how many were not (churned) —
    the complement of retention_cohorts' triangle, one KPI row per
    month.

    Events collapse to distinct (month, user) FIRST (map-side
    combined), so the one-month-ahead self-join moves month-user keys,
    never raw events; the join is co-partitioned on (month, user).
    churn_rate is one division of exact integer counts.  The corpus's
    last month reports null churn (no following month to look at).
    ``month`` is a caller-supplied date expression (truncate however
    the table stores time)."""
    actives = df.select(
        month.alias("month"), F.col(user_col).alias("_u")
    ).distinct()
    nxt = actives.select(
        F.add_months(F.col("month"), -1).alias("_mn"),
        F.col("_u").alias("_u_next"),
    )
    last_month = actives.agg(F.max("month").alias("_last"))
    j = actives.join(
        nxt,
        (F.col("month") == F.col("_mn")) & (F.col("_u") == F.col("_u_next")),
        "left",
    ).select("month", "_u", "_u_next")
    per_month = j.groupBy("month").agg(
        F.count(F.lit(1)).alias("actives"),
        F.sum(F.col("_u_next").isNotNull().cast("long")).alias("retained"),
    )
    return per_month.crossJoin(F.broadcast(last_month)).select(
        "month",
        "actives",
        F.when(F.col("month") < F.col("_last"), F.col("retained")).alias("retained"),
        F.when(
            F.col("month") < F.col("_last"),
            F.lit(1.0)
            - F.col("retained").cast("double") / F.col("actives").cast("double"),
        ).alias("churn_rate"),
    )


def stickiness(
    df: DataFrame,
    user_col: str,
    day: Column,
    month: Column,
) -> DataFrame:
    """DAU/MAU stickiness per month: average daily actives (over days
    WITH activity — deterministic, no calendar-length dependence)
    divided by monthly actives.  Two distinct-user aggregates off the
    same scan; the ratio is one FP expression over exact integers.
    ``day``/``month`` are caller-supplied bucket expressions."""
    daily = (
        df.select(month.alias("month"), day.alias("_day"), F.col(user_col).alias("_u"))
        .distinct()
        .groupBy("month", "_day")
        .agg(F.count(F.lit(1)).alias("_dau"))
    )
    per_month_daily = daily.groupBy("month").agg(
        F.sum("_dau").alias("_dau_sum"), F.count(F.lit(1)).alias("n_days")
    )
    mau = (
        df.select(month.alias("month"), F.col(user_col).alias("_u"))
        .distinct()
        .groupBy("month")
        .agg(F.count(F.lit(1)).alias("mau"))
    )
    return per_month_daily.join(mau, "month").select(
        "month",
        "n_days",
        "mau",
        (
            F.col("_dau_sum").cast("double")
            / (F.col("n_days").cast("double") * F.col("mau").cast("double"))
        ).alias("stickiness"),
    )


def new_vs_returning(
    df: DataFrame,
    user_col: str,
    day: Column,
) -> DataFrame:
    """Per-day new vs returning actives: a user is "new" on their
    first-ever active day.  First-seen days come from one
    distinct+min aggregate; the per-day split is a co-partitioned
    join of day-user keys — raw events are scanned once each side,
    never joined row-to-row.  ``day`` is a caller-supplied bucket
    expression."""
    du = df.select(day.alias("day"), F.col(user_col).alias("_u")).distinct()
    firsts = du.groupBy("_u").agg(F.min("day").alias("_first"))
    # co-partitioned on _u (both sides come off the same shuffle key);
    # NOT broadcast — the first-seen table is user-dim sized
    j = du.join(firsts, "_u")
    return (
        j.groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("actives"),
            F.sum((F.col("day") == F.col("_first")).cast("long")).alias("new_users"),
        )
        .select(
            "day",
            "actives",
            "new_users",
            (F.col("actives") - F.col("new_users")).alias("returning"),
        )
    )


def rfm_segments(
    orders: DataFrame,
    cust_col: str = "o_custkey",
    date_col: str = "o_orderdate",
    amount_col: str = "o_totalprice",
    buckets: int = 4,
    base: DataFrame | None = None,
) -> DataFrame:
    """RFM segmentation: quartile scores for Recency (days since the
    customer's last order, lower = better), Frequency (order count)
    and Monetary (exact-decimal spend), reported as segment counts —
    the classic customer-value grid.

    The fact table collapses to one row per customer first; each score
    is then an EXACT ntile reproduced WITHOUT an unpartitioned window,
    and — unlike ranking each metric separately — ALL THREE metrics
    share ONE shuffle: each customer row explodes into three
    (tag, value) rows (values normalized to one exact decimal type,
    recency NEGATED so every ordering is ascending), range-bucketed
    from a single broadcast cutoff row, ranked by a single
    ``row_number`` window PARTITIONED BY (tag, bucket), and pivoted
    back to one row per customer with conditional aggregates.  Bucket
    offsets come from one (tag, bucket) hash count packed into a
    single broadcast map (key = tag·n_bkt + bucket) whose per-tag
    prefix sums are an expression scan.  Exact rank holds for ANY
    order-respecting bucketing, ``ntile_from_rank`` applies the ANSI
    remainder rule, and ties break on the customer key — so the grid
    is deterministic and bit-identical to the three ntile windows it
    replaces, with no per-customer table ever funnelling through one
    task, at any scale.  Output: (r_score, f_score, m_score,
    n_customers, avg_spend)."""
    from pyspark.sql import Window

    from csp_gateway_spark.plans.scale import ntile_from_rank

    # checkpoint the collapsed dimension: the stats pass and the
    # tagged explode would otherwise each re-run the orders groupBy —
    # a dim-bounded materialization, same pattern as market_basket's
    # shared-subtree checkpoint.  The recency reference date is NOT a
    # separate orders aggregate: max(o_orderdate) == max over
    # customers of _last, so it rides the same stats row (one fewer
    # fact-table scan + broadcast than the r4 shape).
    if base is None:
        base = (
            orders.groupBy(cust_col)
            .agg(
                F.max(F.col(date_col)).alias("_last"),
                F.count(F.lit(1)).alias("_freq"),
                F.sum(dec(amount_col)).alias("_spend"),
            )
            .localCheckpoint(eager=False)
        )
    # else: caller supplies the identical per-customer collapse
    # ONE aggregate pass computes the cutoff stats for all 3 metrics;
    # recency derives exactly: _rec_days = datediff(max(_last), _last)
    # so min_rec = 0 and max_rec = datediff(max(_last), min(_last))
    stats = base.agg(
        F.max("_last").alias("_ref"),
        F.min("_last").alias("_first"),
        F.min("_freq").alias("_mn_f"), F.max("_freq").alias("_mx_f"),
        F.min("_spend").alias("_mn_m"), F.max("_spend").alias("_mx_m"),
        F.count(F.lit(1)).alias("_n_total"),
    )

    n_bkt = 64
    d38 = "decimal(38,6)"

    def entry38(ti: int, val, mn, mx):
        # decimal normalization is EXACT for int days, long counts and
        # (18,2) sums, so ordering by _val == ordering by the metric;
        # recency passes val=-days (mn/mx swapped+negated) so every
        # tag sorts ascending in the one shared window
        return F.struct(
            F.lit(ti).alias("_ti"),
            val.cast(d38).alias("_val"),
            mn.cast(d38).alias("_mn"),
            mx.cast(d38).alias("_mx"),
        )

    tagged = (
        base.crossJoin(F.broadcast(stats))
        .select(
            F.col(cust_col),
            "_spend",
            "_n_total",
            F.explode(
                F.array(
                    # negated recency so the shared window sorts ASC:
                    # -datediff(_ref, _last) = datediff(_last, _ref),
                    # bounds [-max_rec, 0] = [datediff(_first,_ref), 0]
                    entry38(
                        0,
                        F.datediff(F.col("_last"), F.col("_ref")),
                        F.datediff(F.col("_first"), F.col("_ref")),
                        F.lit(0),
                    ),
                    entry38(1, F.col("_freq"), F.col("_mn_f"), F.col("_mx_f")),
                    entry38(2, F.col("_spend"), F.col("_mn_m"), F.col("_mx_m")),
                )
            ).alias("_e"),
        )
        .select(cust_col, "_spend", "_n_total", "_e._ti", "_e._val", "_e._mn", "_e._mx")
    )
    pos = F.col("_val").cast("double") - F.col("_mn").cast("double")
    span = F.col("_mx").cast("double") - F.col("_mn").cast("double")
    raw = F.floor(pos / span * F.lit(float(n_bkt))).cast("int")
    bkt = F.when(span <= F.lit(0.0), F.lit(0)).otherwise(
        F.least(F.lit(n_bkt - 1), F.greatest(F.lit(0), raw))
    )
    bucketed = tagged.withColumn("_bkt", bkt).drop("_mn", "_mx")
    # (tag, bucket) counts from ONE hash aggregate, packed into ONE
    # broadcast map row keyed by ti·n_bkt + bucket; per-tag prefix
    # offsets are an expression scan over the 3·n_bkt-slot array
    key = (F.col("_ti") * n_bkt + F.col("_bkt")).cast("long")
    counts = bucketed.groupBy(key.alias("_k")).agg(
        F.count(F.lit(1)).alias("_cnt")
    )
    packed = counts.agg(
        F.map_from_entries(F.collect_list(F.struct("_k", "_cnt"))).alias("_cm")
    )
    seq = F.sequence(F.lit(0), F.lit(3 * n_bkt - 1))
    zl = F.lit(0).cast("long")
    cnt_arr = F.transform(
        seq, lambda i: F.coalesce(F.element_at(F.col("_cm"), i.cast("long")), zl)
    )
    # per-tag prefix: slot i sums its tag block [ (i div n)·n , i )
    off_arr = F.transform(
        seq,
        lambda i: F.aggregate(
            F.slice(cnt_arr, (i - (i % n_bkt)) + 1, i % n_bkt),
            zl,
            lambda a, x: a + x,
        ),
    )
    offs = packed.select(off_arr.alias("_offs"))
    w = Window.partitionBy("_ti", "_bkt").orderBy("_val", cust_col)
    rn = (
        F.element_at(F.col("_offs"), (F.col("_ti") * n_bkt + F.col("_bkt")) + 1)
        + F.row_number().over(w)
    ).cast("long")
    scored = bucketed.crossJoin(F.broadcast(offs)).withColumn(
        "_score", ntile_from_rank(rn, "_n_total", buckets)
    )
    # pivot the three tag rows back to one row per customer
    per = scored.groupBy(cust_col).agg(
        F.max(F.when(F.col("_ti") == 0, F.col("_score"))).alias("r_score"),
        F.max(F.when(F.col("_ti") == 1, F.col("_score"))).alias("f_score"),
        F.max(F.when(F.col("_ti") == 2, F.col("_score"))).alias("m_score"),
        F.max("_spend").alias("_spend"),
    )
    return per.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).alias("n_customers"),
        (
            F.sum("_spend").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("avg_spend"),
    )


def cohort_ltv(
    orders: DataFrame,
    cust_col: str = "o_custkey",
    date_col: str = "o_orderdate",
    amount_col: str = "o_totalprice",
) -> DataFrame:
    """Cohort lifetime-value curve: for each first-order-month cohort,
    cumulative revenue per month offset — the money view of
    `retention_cohorts`.

    Cohort month pins through the same key window; revenue aggregates
    in exact decimal per (cohort, offset); the cumulative sum runs in
    a window PARTITIONED BY COHORT over month offsets — bounded by
    the date range, never data volume."""
    from pyspark.sql import Window

    month = F.date_trunc("month", F.col(date_col))
    w = Window.partitionBy(cust_col)
    rows = orders.withColumn("_m", month).withColumn("_cohort", F.min("_m").over(w))
    offset = (
        (F.year("_m") - F.year("_cohort")) * 12 + F.month("_m") - F.month("_cohort")
    )
    per = (
        rows.withColumn("month_offset", offset.cast("int"))
        .groupBy(F.col("_cohort").alias("cohort_month"), "month_offset")
        .agg(
            F.sum(dec(amount_col)).alias("_rev"),
            F.countDistinct(cust_col).alias("customers"),
        )
    )
    wc = (
        Window.partitionBy("cohort_month")
        .orderBy("month_offset")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return per.select(
        "cohort_month",
        "month_offset",
        "customers",
        F.col("_rev").cast("double").alias("revenue"),
        F.sum("_rev").over(wc).cast("double").alias("cum_revenue"),
    )


def dup_invoices(
    orders: DataFrame,
    cust_col: str = "o_custkey",
    date_col: str = "o_orderdate",
    amount_col: str = "o_totalprice",
    max_days: int = 7,
    amount_bucket: float | None = None,
) -> DataFrame:
    """Duplicate-invoice screen: pairs of DISTINCT orders from the
    same customer for the same exact amount within ``max_days`` — the
    double-billing / double-submission fraud check.

    The self-join keys on (customer, exact-decimal amount) — a real
    equi-join, so candidates are only same-amount collisions, never a
    customer cross-product; the day-window and key-ordering predicates
    filter inside the matched group.  Decimal equality avoids float
    '==' on money; ``amount_bucket`` switches the join key to
    floor(amount / bucket) for a near-amount screen (synthetic books
    with continuous prices have no exact collisions)."""
    amt_key = (
        F.floor(F.col(amount_col) / F.lit(float(amount_bucket)))
        if amount_bucket
        else dec(amount_col)
    )
    base = orders.select(
        F.col(cust_col).alias("_c"),
        amt_key.alias("_amt"),
        dec(amount_col).alias("_amt_exact"),
        F.col(date_col).alias("_d"),
        F.col("o_orderkey").alias("_k"),
    )
    a, b = base.alias("a"), base.alias("b")
    pairs = a.join(
        b,
        (F.col("a._c") == F.col("b._c"))
        & (F.col("a._amt") == F.col("b._amt"))
        & (F.col("a._k") < F.col("b._k"))
        & (F.abs(F.datediff(F.col("b._d"), F.col("a._d"))) <= max_days),
    )
    return pairs.select(
        F.col("a._c").alias(cust_col),
        F.col("a._k").alias("orderkey_a"),
        F.col("b._k").alias("orderkey_b"),
        F.col("a._amt_exact").cast("double").alias("amount_a"),
        F.col("b._amt_exact").cast("double").alias("amount_b"),
        F.abs(F.datediff(F.col("b._d"), F.col("a._d"))).alias("days_apart"),
    )


def equi_depth_histogram(
    df: DataFrame,
    value_col: str,
    buckets: int = 10,
) -> DataFrame:
    """Equi-depth (quantile-bucketed) histogram: bucket boundaries at
    the exact i/b percentiles, rows counted per bucket — the
    distribution view that stays informative on skewed columns where
    equi-width bins collapse into one bar.

    ONE percentile aggregate computes every boundary (single
    value-map state, cf. `winsorize`), broadcast back as an array; a
    row's bucket is the count of boundaries ≤ its value — a
    scan-local higher-order filter, no join per boundary.  Boundary
    doubles are engine-identical (same percentile formula), so bucket
    edges cannot flake."""
    probes = ", ".join(str(i / buckets) for i in range(1, buckets))
    bounds = df.agg(
        F.expr(f"percentile({value_col}, array({probes}))").alias("_bounds")
    )
    v = F.col(value_col).cast("double")
    out = (
        df.crossJoin(F.broadcast(bounds))
        .withColumn(
            "bucket",
            F.expr(
                f"CAST(size(filter(_bounds, b -> b <= CAST({value_col} AS DOUBLE))) AS INT)"
            ),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(v).alias("lo"),
            F.max(v).alias("hi"),
        )
    )
    return out


def mahalanobis_outliers(
    df: DataFrame,
    cols: Sequence[str],
    k: int = 20,
    sums: DataFrame | None = None,
) -> DataFrame:
    """Top-k multivariate outliers by diagonal Mahalanobis distance:
    Σ_c ((x_c − μ_c)² / σ²_c) — the multi-column generalization of the
    z-score screen (full-covariance Mahalanobis needs a matrix solve;
    the diagonal form is the standard scan-scale screen).

    Moments come from ONE aggregation in exact decimal (sum and
    sum-of-squares are associative — map-side combined; decimal(38,4)
    holds squares of 2-decimal inputs exactly), broadcast back as a
    1-row join; the per-row score is a fixed-order sum of identical
    FP expressions, so it is engine-exact.  Top-k is TakeOrdered.

    ``sums``: optional pre-built 1-row moments frame carrying
    ``_n``/``_s_<col>``/``_ss_<col>`` with the EXACT values this
    function would aggregate itself (decimal sums are associative, so
    a shared wider aggregate over the same rows is bit-identical)."""
    if sums is not None:
        moments = sums.select(
            "_n", *[x for c in cols for x in (f"_s_{c}", f"_ss_{c}")]
        )
    else:
        aggs = [F.count(F.lit(1)).alias("_n")]
        for c in cols:
            d18 = F.col(c).cast("decimal(18,2)")
            aggs += [
                F.sum(d18).alias(f"_s_{c}"),
                F.sum((d18 * d18).cast("decimal(38,4)")).alias(f"_ss_{c}"),
            ]
        moments = df.agg(*aggs)
    out = df.crossJoin(F.broadcast(moments))
    score = None
    for c in cols:
        n = F.col("_n").cast("double")
        mu = F.col(f"_s_{c}").cast("double") / n
        var = F.col(f"_ss_{c}").cast("double") / n - mu * mu
        z2 = (F.col(c).cast("double") - mu) * (F.col(c).cast("double") - mu) / var
        score = z2 if score is None else score + z2
    return (
        out.withColumn("m2", score)
        .select(*df.columns, "m2")
        .orderBy(F.desc("m2"), *[F.asc(c) for c in df.columns])
        .limit(k)
    )


def ewma_level(
    df: DataFrame,
    bucket: Column,
    value_col: str,
    alpha: float = 0.3,
) -> DataFrame:
    """Simple-exponential-smoothing level of a bucketed series (the
    one-step-ahead forecast): S_1 = y_1, S_t = α·y_t + (1−α)·S_{t−1},
    folded in bucket order.

    The series is CALENDAR-BOUNDED (one row per bucket after the
    grouped aggregate — months/days, never data volume), so the fold
    runs over one bounded array in a 1-row aggregate: corpus → series
    is the usual one shuffle with map-side combine; the recursion —
    inherently sequential — touches only the collapsed series.  Sums
    stay exact decimal until the fold so the array is
    engine-reproducible; the fold itself is the same left-to-right
    double expression either engine.

    Output: (n_buckets, last_bucket, level)."""
    a = float(alpha)
    series = df.groupBy(bucket.alias("_b")).agg(
        F.sum(dec(value_col)).alias("_y")
    )
    one = series.agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("_b"), F.col("_y").cast("double").alias("_yd")))
        ).alias("_vs"),
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("_b").alias("last_bucket"),
    )
    ys = F.transform(F.col("_vs"), lambda s: s["_yd"])
    level = F.aggregate(
        F.slice(ys, 2, F.greatest(F.size(ys) - 1, F.lit(0))),
        F.element_at(ys, 1),
        lambda acc, v: acc * F.lit(1.0 - a) + v * F.lit(a),
    )
    return one.select("n_buckets", "last_bucket", level.alias("level"))


def cusum_scores(
    df: DataFrame,
    day: Column,
    value_col: str,
) -> DataFrame:
    """Standardized CUSUM over a daily total series — the classic
    mean-shift / change-point monitor: C_t = Σ_{i≤t}(x_i − μ)/σ,
    reported per day.

    Everything order-sensitive stays EXACT: per-day totals and their
    running sum are decimal (associative, so the two-phase
    ``global_row_number(cum_value=...)`` cumulative — per-bucket
    window + broadcast bucket-total offsets, never an unpartitioned
    window — equals the flat running sum bit-for-bit), and
    C_t = (cum_t − t·μ)/σ is one double expression over exact inputs
    with 1-row broadcast μ, σ.  The series itself is calendar-bounded.

    Output per day: (day, t, cusum) with ``cusum`` the standardized
    cumulative deviation."""
    from csp_gateway_spark.plans.scale import global_row_number

    daily = df.groupBy(day.alias("_d")).agg(F.sum(dec(value_col)).alias("_x"))
    # narrow before squaring: a (38,2)x(38,2) product overflows the
    # 38-digit cap (DuckDB errors, Spark silently loses precision) —
    # (18,2)x(18,2) -> (38,4) is exact in both engines
    # (19,2) squaring keeps DuckDB on the int128 path (an (18,2)
    # square overflows int64 once daily totals pass ~$2e7)
    x18 = F.col("_x").cast("decimal(19,2)")
    stats = daily.agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("_x").alias("_sx"),
        F.sum((x18 * x18).cast("decimal(38,4)")).alias("_sxx"),
    )
    ranked = global_row_number(
        daily.withColumn("_dn", F.datediff(F.col("_d"), F.lit("1970-01-01"))),
        "_dn",
        [],
        rn_col="_t",
        cum_value="_x",
        cum_col="_cx",
        checkpoint=True,
    )
    mu = F.col("_sx").cast("double") / F.col("_n").cast("double")
    var = (
        F.col("_sxx").cast("double") / F.col("_n").cast("double") - mu * mu
    )
    return (
        ranked.crossJoin(F.broadcast(stats))
        .select(
            F.col("_d").alias("day"),
            F.col("_t").alias("t"),
            (
                (F.col("_cx").cast("double") - F.col("_t").cast("double") * mu)
                / F.sqrt(var)
            ).alias("cusum"),
        )
    )


def ab_test_report(
    df: DataFrame,
    unit_col: str,
    value_col: str,
    arm: Column,
) -> DataFrame:
    """Two-sample experiment readout: per-arm unit counts, mean
    outcome, and the large-sample z statistic for the mean difference
    (Welch SE).  ``arm`` is a caller-supplied deterministic
    assignment expression (e.g. ``F.col("user_id") % 2`` — hash-based
    in production; the modulus keeps the oracle engine-portable).

    One shuffle to collapse events → per-unit outcome, one tiny
    per-arm aggregate.  Outcome sums and their squares stay exact
    decimal, so mean/variance/z are single double expressions over
    exact inputs — engine-identical.  ALWAYS emits exactly one row:
    an empty arm reports n=0 with NULL mean, and z is NULL unless
    both arms have ≥ 2 units (Welch variance needs n−1 > 0) — the
    degenerate-input cases surface as NULL stats, never as zero rows
    or a divide blow-up.  Output: one row
    (n_a, n_b, mean_a, mean_b, diff, z)."""
    per_unit = df.groupBy(arm.alias("_arm"), F.col(unit_col).alias("_u")).agg(
        F.sum(dec(value_col)).alias("_v")
    )
    v18 = F.col("_v").cast("decimal(19,2)")
    arms = per_unit.groupBy("_arm").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("_v").alias("_sv"),
        F.sum((v18 * v18).cast("decimal(38,4)")).alias("_svv"),
    )
    # fold the ≤2-row arm frame to ONE row with conditional sums — a
    # filter+crossJoin pair would return ZERO rows when an arm is empty
    def pick(side: int, col: str, alias: str):
        return F.sum(F.when(F.col("_arm") == side, F.col(col))).alias(alias)

    j = arms.agg(
        F.coalesce(pick(0, "_n", "_"), F.lit(0)).alias("n_a"),
        F.coalesce(pick(1, "_n", "_"), F.lit(0)).alias("n_b"),
        pick(0, "_sv", "_sva"), pick(0, "_svv", "_svva"),
        pick(1, "_sv", "_svb"), pick(1, "_svv", "_svvb"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    ma = F.col("_sva").cast("double") / na
    mb = F.col("_svb").cast("double") / nb
    va = (F.col("_svva").cast("double") - na * ma * ma) / (na - 1.0)
    vb = (F.col("_svvb").cast("double") - nb * mb * mb) / (nb - 1.0)
    ok = (F.col("n_a") >= 2) & (F.col("n_b") >= 2)
    return j.select(
        "n_a",
        "n_b",
        ma.alias("mean_a"),
        mb.alias("mean_b"),
        (mb - ma).alias("diff"),
        F.when(ok, (mb - ma) / F.sqrt(va / na + vb / nb)).alias("z"),
    )


def k_anonymity(
    df: DataFrame,
    quasi_cols: Sequence[Column],
    k: int = 5,
) -> DataFrame:
    """k-anonymity audit over a quasi-identifier combination: how many
    equivalence classes exist, how many fall below ``k`` members, and
    how many ROWS sit in those re-identifiable classes — the release
    gate before sharing a "de-identified" extract.

    Two aggregates (QI grouping with map-side combine, then a 1-row
    rollup); no joins, no windows.  Output: one row
    (n_groups, n_small_groups, rows_at_risk, min_class_size,
    n_rows)."""
    groups = df.groupBy(*quasi_cols).agg(F.count(F.lit(1)).alias("_sz"))
    return groups.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum((F.col("_sz") < k).cast("long")).alias("n_small_groups"),
        F.sum(F.when(F.col("_sz") < k, F.col("_sz")).otherwise(0)).alias(
            "rows_at_risk"
        ),
        F.min("_sz").alias("min_class_size"),
        F.sum("_sz").alias("n_rows"),
    )


def exact_quantiles(
    df: DataFrame,
    value_col: str,
    tiebreaks: Sequence[str],
    probs: Sequence[float],
    buckets: "int | None" = None,
) -> DataFrame:
    """EXACT interpolated quantiles of a fact-table column by
    distributed rank-select — order statistics without the
    value→count map that makes ``percentile`` a single-reducer
    memory bomb at 100 TB, and without ``approx_percentile``'s error.

    Crossing-bucket plan: each probe p needs only global ranks
    ⌊p·(n−1)⌋+1 and +2; rows range-bucket on the value (broadcast
    1-row cutoffs), ONE hash aggregate yields per-bucket counts packed
    into a broadcast map, and an expression scan maps each needed rank
    to the single bucket that CONTAINS it.  Only those buckets' rows
    (≈ |probs|/buckets of the data) shuffle into the per-bucket
    PARTITIONED ``row_number`` window; the global rank is the bucket's
    count-prefix offset plus the local number, and a ≤2·|probs|-row
    broadcast probe table equi-joins on it.  Nothing value-shaped ever
    concentrates on one task and the sort touches 1/buckets of the
    data.

    Output: (p, q) per probe."""
    from pyspark.sql import Window

    probs = [float(p) for p in probs]
    stats = df.agg(
        F.min(F.col(value_col)).alias("_gr_mn"),
        F.max(F.col(value_col)).alias("_gr_mx"),
        F.count(F.lit(1)).alias("_n_total"),
    )
    from csp_gateway_spark.plans.scale import adaptive_bucket_count

    b = df.select(value_col, *tiebreaks).crossJoin(F.broadcast(stats))
    nb = (
        F.lit(buckets)
        if buckets is not None
        else adaptive_bucket_count(F.col("_n_total"))
    )
    pos_b = F.col(value_col).cast("double") - F.col("_gr_mn").cast("double")
    span = F.col("_gr_mx").cast("double") - F.col("_gr_mn").cast("double")
    raw = F.floor(pos_b / span * nb.cast("double")).cast("int")
    bkt = F.when(span <= F.lit(0.0), F.lit(0)).otherwise(
        F.least(nb - F.lit(1), F.greatest(F.lit(0), raw))
    )
    bucketed = b.withColumn("_gr_bkt", bkt).drop("_gr_mn", "_gr_mx")
    counts = bucketed.groupBy("_gr_bkt").agg(F.count(F.lit(1)).alias("_cnt"))
    packed = counts.agg(
        F.map_from_entries(F.collect_list(F.struct("_gr_bkt", "_cnt"))).alias("_cm")
    )
    zl = F.lit(0).cast("long")
    # bucket-scan length from the max OBSERVED bucket id — every rank
    # r ≤ n lands in an occupied-or-earlier bucket, so the crossing
    # fold never needs the empty tail
    seq = F.sequence(
        F.lit(0),
        F.greatest(
            F.lit(0), F.coalesce(F.array_max(F.map_keys(F.col("_cm"))), F.lit(0))
        ),
    )
    cnt_arr = F.transform(
        seq, lambda i: F.coalesce(F.element_at(F.col("_cm"), i), zl)
    )

    def prefix(n):  # rows in the first ``n`` buckets
        return F.aggregate(F.slice(cnt_arr, 1, n), zl, lambda a, x: a + x)

    spark = df.sparkSession
    pdf = spark.createDataFrame([(p,) for p in probs], "p double")
    n1 = F.col("_n_total").cast("double") - F.lit(1.0)
    pos = F.col("p") * n1
    k0 = F.floor(pos)
    crossing = F.aggregate(
        seq,
        F.lit(-1),
        lambda acc, k: F.when(
            (acc < 0) & (prefix(k + 1) >= F.col("_r")), k
        ).otherwise(acc),
    )
    probe = (
        pdf.crossJoin(F.broadcast(stats.select("_n_total")))
        .select(
            "p",
            (pos - k0).alias("_frac"),
            (k0 + 1).cast("long").alias("_rlo"),
            F.least(k0 + 2, F.col("_n_total")).cast("long").alias("_rhi"),
        )
        .select(
            "p",
            "_frac",
            F.explode(
                F.array(
                    F.struct(F.lit("lo").alias("_side"), F.col("_rlo").alias("_r")),
                    F.struct(F.lit("hi").alias("_side"), F.col("_rhi").alias("_r")),
                )
            ).alias("_pr"),
        )
        .select("p", "_frac", "_pr._side", "_pr._r")
        .crossJoin(F.broadcast(packed))
        .select(
            "p", "_frac", "_side", "_r",
            crossing.alias("_cbkt"),
            prefix(crossing).alias("_off"),
        )
        .localCheckpoint(eager=False)
    )
    # rows of ANY rank-containing bucket, each exactly once
    cbs = probe.select(F.col("_cbkt").alias("_gr_bkt"), "_off").distinct()
    cand = bucketed.join(F.broadcast(cbs), "_gr_bkt")
    win = Window.partitionBy("_gr_bkt").orderBy(
        F.col(value_col).asc(), *[F.col(t).asc() for t in tiebreaks]
    )
    ranked = cand.withColumn(
        "_rn", (F.col("_off") + F.row_number().over(win)).cast("long")
    )
    hits = ranked.join(
        F.broadcast(probe.select("p", "_frac", "_side", "_r")),
        F.col("_rn") == F.col("_r"),
    )
    v = F.col(value_col).cast("double")
    per_p = hits.groupBy("p").agg(
        F.max(F.when(F.col("_side") == "lo", v)).alias("_vlo"),
        F.max(F.when(F.col("_side") == "hi", v)).alias("_vhi"),
        F.max("_frac").alias("_f"),
    )
    return per_p.select(
        "p",
        (
            F.col("_vlo") + (F.col("_vhi") - F.col("_vlo")) * F.col("_f")
        ).alias("q"),
    )


def weighted_median(
    df: DataFrame,
    value_col: str,
    weight_col: str,
    tiebreaks: Sequence[str],
    probs: Sequence[float] = (0.25, 0.5, 0.75),
    buckets: "int | None" = None,
) -> DataFrame:
    """Exact weighted quantiles (lower / left-continuous definition):
    the smallest value whose running weight reaches p·W in value
    order — crossing-bucket plan: range-bucket on the value (broadcast
    1-row cutoffs), ONE hash aggregate of exact-decimal per-bucket
    weight sums packed into a broadcast map, an expression scan finds
    each probe's CROSSING bucket, and only those buckets' rows
    (≈ |probs|/buckets of the data) shuffle into the per-bucket
    PARTITIONED running-weight window (offset by the bucket's exact
    prefix sum — bit-equal to the flat running sum since decimal
    addition is associative).  No sorting funnel, no interpolation FP:
    weights stay decimal end-to-end and the p·W thresholds use dyadic
    probs, so the comparison is engine-exact.

    Output: (p, wq) per probe."""
    from pyspark.sql import Window
    from pyspark.sql.types import DecimalType

    probs = [float(p) for p in probs]
    w = F.col(weight_col).cast("decimal(18,2)")
    base = df.select(
        F.col(value_col).alias("_v"), w.alias("_w"), *tiebreaks
    )
    from csp_gateway_spark.plans.scale import adaptive_bucket_count

    stats = base.agg(
        F.min("_v").alias("_mn"),
        F.max("_v").alias("_mx"),
        F.sum("_w").alias("_wt"),
        F.count(F.lit(1)).alias("_n_total"),
    )
    b = base.crossJoin(F.broadcast(stats))
    nb = (
        F.lit(buckets)
        if buckets is not None
        else adaptive_bucket_count(F.col("_n_total"))
    )
    pos = F.col("_v").cast("double") - F.col("_mn").cast("double")
    span = F.col("_mx").cast("double") - F.col("_mn").cast("double")
    raw = F.floor(pos / span * nb.cast("double")).cast("int")
    bkt = F.when(span <= F.lit(0.0), F.lit(0)).otherwise(
        F.least(nb - F.lit(1), F.greatest(F.lit(0), raw))
    )
    bucketed = b.withColumn("_gr_bkt", bkt).drop("_mn", "_mx", "_wt", "_n_total")
    counts = bucketed.groupBy("_gr_bkt").agg(F.sum("_w").alias("_vs"))
    packed = counts.agg(
        F.map_from_entries(F.collect_list(F.struct("_gr_bkt", "_vs"))).alias("_vm")
    ).crossJoin(F.broadcast(stats.select("_wt")))
    sum_dt = counts.schema["_vs"].dataType
    vzero = F.lit(0).cast(sum_dt)
    vinit = (
        F.lit(0).cast(DecimalType(38, sum_dt.scale))
        if isinstance(sum_dt, DecimalType)
        else F.lit(0).cast(sum_dt)
    )
    seq = F.sequence(
        F.lit(0),
        F.greatest(
            F.lit(0), F.coalesce(F.array_max(F.map_keys(F.col("_vm"))), F.lit(0))
        ),
    )
    v_arr = F.transform(
        seq, lambda i: F.coalesce(F.element_at(F.col("_vm"), i), vzero)
    )

    def prefix(n):  # exact-decimal sum of the first ``n`` buckets
        return F.aggregate(F.slice(v_arr, 1, n), vinit, lambda a, x: a + x)

    spark = df.sparkSession
    pdf = spark.createDataFrame([(p,) for p in probs], "p double")
    thresh = F.col("p") * F.col("_wt").cast("double")
    crossing = F.aggregate(
        seq,
        F.lit(-1),
        lambda acc, k: F.when(
            (acc < 0) & (prefix(k + 1).cast("double") >= thresh), k
        ).otherwise(acc),
    )
    pre = pdf.crossJoin(F.broadcast(packed)).select(
        "p",
        thresh.alias("_thr"),
        crossing.alias("_cbkt"),
        prefix(crossing).alias("_voff"),
    ).localCheckpoint(eager=False)
    # rows of ANY crossing bucket, each exactly once, window per bucket
    cbs = pre.select(F.col("_cbkt").alias("_gr_bkt"), "_voff").distinct()
    cand = bucketed.join(F.broadcast(cbs), "_gr_bkt")
    win = Window.partitionBy("_gr_bkt").orderBy("_v", *tiebreaks)
    scored = cand.withColumn(
        "_cw",
        F.col("_voff")
        + F.sum("_w").over(win.rowsBetween(Window.unboundedPreceding, 0)),
    ).withColumn("_rn", F.row_number().over(win))
    hit = scored.join(
        F.broadcast(pre.select("p", "_thr", F.col("_cbkt").alias("_pb"))),
        F.col("_gr_bkt") == F.col("_pb"),
    ).filter(F.col("_cw").cast("double") >= F.col("_thr"))
    return (
        hit.groupBy("p")
        .agg(F.min(F.struct(F.col("_rn"), F.col("_v"))).alias("_m"))
        .select("p", F.col("_m._v").cast("double").alias("wq"))
    )


def seasonal_index(
    df: DataFrame,
    date_col: str,
    value_col: str,
) -> DataFrame:
    """Month-of-year seasonality profile: average monthly total per
    calendar month ÷ grand average monthly total — the classic
    multiplicative seasonal index.  Two grouped aggregates over the
    calendar-bounded monthly series; all sums exact decimal, the two
    divisions are identical double expressions either engine.

    Output per month-of-year: (moy, n_months, avg_rev,
    seasonal_index)."""
    monthly = df.groupBy(
        F.year(F.col(date_col)).alias("_y"), F.month(F.col(date_col)).alias("_m")
    ).agg(F.sum(dec(value_col)).alias("_rev"))
    grand = monthly.agg(
        F.sum("_rev").alias("_gs"), F.count(F.lit(1)).alias("_gn")
    )
    per_moy = monthly.groupBy(F.col("_m").alias("moy")).agg(
        F.count(F.lit(1)).alias("n_months"), F.sum("_rev").alias("_ms")
    )
    avg_rev = F.col("_ms").cast("double") / F.col("n_months").cast("double")
    grand_avg = F.col("_gs").cast("double") / F.col("_gn").cast("double")
    return per_moy.crossJoin(F.broadcast(grand)).select(
        "moy",
        "n_months",
        avg_rev.alias("avg_rev"),
        (avg_rev / grand_avg).alias("seasonal_index"),
    )


def anomaly_days(
    df: DataFrame,
    day: Column,
    value_col: str,
    z_thresh: float = 2.0,
) -> DataFrame:
    """Daily-total anomaly screen: days whose total deviates more than
    ``z_thresh`` population standard deviations from the mean.  Same
    exact-decimal stats discipline as `cusum_scores` (sums and squares
    decimal, one identical double expression for z) without the
    cumulative — two aggregates and a broadcast.

    Output: (day, total, z) for flagged days."""
    daily = df.groupBy(day.alias("_d")).agg(F.sum(dec(value_col)).alias("_x"))
    # (19,2) squaring keeps DuckDB on the int128 path (an (18,2)
    # square overflows int64 once daily totals pass ~$2e7)
    x18 = F.col("_x").cast("decimal(19,2)")
    stats = daily.agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("_x").alias("_sx"),
        F.sum((x18 * x18).cast("decimal(38,4)")).alias("_sxx"),
    )
    mu = F.col("_sx").cast("double") / F.col("_n").cast("double")
    var = F.col("_sxx").cast("double") / F.col("_n").cast("double") - mu * mu
    z = (F.col("_x").cast("double") - mu) / F.sqrt(var)
    return (
        daily.crossJoin(F.broadcast(stats))
        .select(
            F.col("_d").alias("day"),
            F.col("_x").cast("double").alias("total"),
            z.alias("z"),
        )
        .filter(F.abs(F.col("z")) > float(z_thresh))
    )


def windowed_funnel(
    events: DataFrame,
    stages: Sequence[str],
    window_gap,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Time-constrained funnel: a user reaches stage k only via a
    chain e₁ ≤ … ≤ e_k where every consecutive gap is ≤
    ``window_gap`` (same ts units as ``ts_col``) — the strict-window
    variant of `funnel`'s open first-touch semantics.

    Chain-existence composes as k−1 PER-USER range semi-joins
    (stage-k events keep only those with a feasible stage-(k−1) event
    in [t−gap, t]): each join is an equi-shuffle on the user key with
    a scan-local range filter — per-user event lists bound the work,
    never the corpus square.  Counts are distinct users per reached
    stage.  Output: (stage_idx, stage, n_users)."""
    feasible = events.select(
        F.col(user_col).alias("_u"), F.col(ts_col).alias("_t")
    ).filter(F.col(type_col) == stages[0])
    results = [feasible]
    for s in stages[1:]:
        nxt = events.select(
            F.col(user_col).alias("_u"), F.col(ts_col).alias("_t")
        ).filter(F.col(type_col) == s)
        prev = results[-1].select(
            F.col("_u").alias("_pu"), F.col("_t").alias("_pt")
        )
        feas = nxt.join(
            prev,
            (F.col("_u") == F.col("_pu"))
            & (F.col("_pt") <= F.col("_t"))
            & (F.col("_pt") >= F.col("_t") - window_gap),
            "left_semi",
        )
        results.append(feas)
    spark = events.sparkSession
    out = None
    for i, (s, df) in enumerate(zip(stages, results), start=1):
        c = df.select("_u").distinct().agg(
            F.lit(i).alias("stage_idx"),
            F.lit(s).alias("stage"),
            F.count(F.lit(1)).alias("n_users"),
        )
        out = c if out is None else out.unionAll(c)
    return out


def chi_square_report(
    df: DataFrame,
    col_a: str,
    col_b: str,
) -> DataFrame:
    """Chi-square test of independence between two categorical
    columns — the segmentation sanity check ("is market segment
    independent of nation?").

    One (a, b) cell aggregate (map-side combined) plus BOUNDED
    row/column/grand-total broadcasts; the χ² sum folds the
    cell-dimension array in (a, b) order inside a 1-row aggregate, so
    the double accumulation is engine-reproducible (same trick as
    `pagerank`'s src-ordered fold — cells are category-bounded, never
    data-bounded).  Output: (chi2, dof, n)."""
    cells = df.groupBy(F.col(col_a).alias("_a"), F.col(col_b).alias("_b")).agg(
        F.count(F.lit(1)).alias("_o")
    )
    rows = cells.groupBy("_a").agg(F.sum("_o").alias("_ra"))
    cols = cells.groupBy("_b").agg(F.sum("_o").alias("_cb"))
    tot = cells.agg(
        F.sum("_o").alias("_nn"),
        F.countDistinct("_a").alias("_r"),
        F.countDistinct("_b").alias("_c"),
    )
    j = (
        cells.join(F.broadcast(rows), "_a")
        .join(F.broadcast(cols), "_b")
        .crossJoin(F.broadcast(tot))
    )
    o = F.col("_o").cast("double")
    e = (
        F.col("_ra").cast("double") * F.col("_cb").cast("double")
        / F.col("_nn").cast("double")
    )
    term = (o - e) * (o - e) / e
    folded = j.select(
        "_a", "_b", term.alias("_t"), "_nn", "_r", "_c"
    ).agg(
        F.array_sort(F.collect_list(F.struct("_a", "_b", "_t"))).alias("_vs"),
        F.max("_nn").alias("n"),
        F.max("_r").alias("_r"),
        F.max("_c").alias("_c"),
    )
    chi2 = F.aggregate(F.col("_vs"), F.lit(0.0), lambda acc, s: acc + s["_t"])
    return folded.select(
        chi2.alias("chi2"),
        ((F.col("_r") - 1) * (F.col("_c") - 1)).cast("long").alias("dof"),
        F.col("n").cast("long").alias("n"),
    )


def bounce_rate(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    gap: int = 1_800_000_000_000,
) -> DataFrame:
    """Per-day session bounce rate: sessionize each user's stream with
    an idle ``gap`` (default 30 min in ns), then report sessions,
    single-event sessions (bounces) and their ratio per day of
    session start.

    One shuffle on the user key drives both the lag flag and the
    cumulative session id (same partitioned window); the rest is two
    bounded aggregates.  Output: (day_num, sessions, bounces,
    bounce_rate)."""
    from pyspark.sql import Window

    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    flagged = events.select(
        user_col,
        ts_col,
        id_col,
    ).withColumn(
        "_new",
        F.when(
            F.col(ts_col) - F.lag(F.col(ts_col)).over(w) > gap, F.lit(1)
        ).otherwise(
            F.when(F.lag(F.col(ts_col)).over(w).isNull(), F.lit(1)).otherwise(
                F.lit(0)
            )
        ),
    )
    sid = F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0))
    sessions = (
        flagged.withColumn("_sid", sid)
        .groupBy(user_col, "_sid")
        .agg(F.count(F.lit(1)).alias("_n"), F.min(ts_col).alias("_start"))
    )
    day = F.expr(f"_start div {86_400_000_000_000}")
    return (
        sessions.groupBy(day.alias("day_num"))
        .agg(
            F.count(F.lit(1)).alias("sessions"),
            F.sum((F.col("_n") == 1).cast("long")).alias("bounces"),
        )
        .select(
            "day_num",
            "sessions",
            "bounces",
            (
                F.col("bounces").cast("double") / F.col("sessions").cast("double")
            ).alias("bounce_rate"),
        )
    )


def grouped_weighted_median(
    df: DataFrame,
    group_col: str,
    value_col: str,
    weight_col: str,
    tiebreaks: Sequence[str],
    p: float = 0.5,
) -> DataFrame:
    """Exact weighted quantile PER GROUP (lower definition): within
    each group, the smallest value whose exact-decimal running weight
    reaches p·W_g.

    Two-phase crossing-bucket plan (the r5-verdict single-task-window
    fix, sharpened): each group range-buckets on the value (broadcast
    per-group min/max/total cutoffs), ONE hash aggregate yields each
    (group, bucket)'s exact-decimal weight sum, and an expression scan
    over the packed per-group bucket array finds the single CROSSING
    bucket — the only bucket whose rows can contain the quantile.
    Only those rows (≈ 1/buckets of the group) shuffle into the
    per-(group, bucket) PARTITIONED window that computes the running
    weight (offset by the crossing bucket's exact prefix sum, which
    equals the flat per-group running sum bit-for-bit since decimal
    addition is associative).  A LOW-CARDINALITY group column
    therefore never funnels a group through one task, and the sort
    touches 1/buckets of the data.  The pick keys on the in-bucket
    value-order RANK, so zero-weight rows that tie on running weight
    still resolve to the smallest qualifying value.  ``p`` should be
    dyadic (0.25/0.5/0.75) so p·W_g is an exact double product.
    Output: (group, n, total_w, wq)."""
    from pyspark.sql import Window
    from pyspark.sql.types import DecimalType

    from csp_gateway_spark.plans.scale import adaptive_bucket_count

    w = F.col(weight_col).cast("decimal(18,2)")
    base = df.select(
        F.col(group_col).alias("_g"),
        F.col(value_col).alias("_v"),
        w.alias("_w"),
        *tiebreaks,
    )
    stats = base.groupBy("_g").agg(
        F.min("_v").alias("_mn"),
        F.max("_v").alias("_mx"),
        F.count(F.lit(1)).alias("_n"),
        F.sum("_w").alias("_wt"),
    )
    b = base.join(F.broadcast(stats), "_g")
    # per-group adaptive bucket count — bounded per-bucket task size
    nb = adaptive_bucket_count(F.col("_n"))
    pos = F.col("_v").cast("double") - F.col("_mn").cast("double")
    span = F.col("_mx").cast("double") - F.col("_mn").cast("double")
    raw = F.floor(pos / span * nb.cast("double")).cast("int")
    bkt = F.when(span <= F.lit(0.0), F.lit(0)).otherwise(
        F.least(nb - F.lit(1), F.greatest(F.lit(0), raw))
    )
    bucketed = b.withColumn("_gr_bkt", bkt).drop("_mn", "_mx")
    # exact per-(group, bucket) weight sums -> one packed map per group
    counts = bucketed.groupBy("_g", "_gr_bkt").agg(F.sum("_w").alias("_vs"))
    packed = counts.groupBy("_g").agg(
        F.map_from_entries(F.collect_list(F.struct("_gr_bkt", "_vs"))).alias("_vm")
    ).join(stats.select("_g", "_wt"), "_g")
    sum_dt = counts.schema["_vs"].dataType
    vzero = F.lit(0).cast(sum_dt)
    vinit = (
        F.lit(0).cast(DecimalType(38, sum_dt.scale))
        if isinstance(sum_dt, DecimalType)
        else F.lit(0).cast(sum_dt)
    )
    # per-group bucket-scan length from that group's max observed
    # bucket id (the crossing bucket is always occupied-or-earlier)
    seq = F.sequence(
        F.lit(0),
        F.greatest(
            F.lit(0), F.coalesce(F.array_max(F.map_keys(F.col("_vm"))), F.lit(0))
        ),
    )
    v_arr = F.transform(
        seq, lambda i: F.coalesce(F.element_at(F.col("_vm"), i), vzero)
    )
    thresh = F.lit(float(p)) * F.col("_wt").cast("double")

    def prefix(n):  # exact-decimal sum of the first ``n`` buckets
        return F.aggregate(F.slice(v_arr, 1, n), vinit, lambda a, x: a + x)

    # first bucket whose INCLUSIVE prefix reaches the threshold: the
    # row-level crossing row lives there (running weight nondecreasing)
    crossing = F.aggregate(
        seq,
        F.lit(-1),
        lambda acc, k: F.when(
            (acc < 0) & (prefix(k + 1).cast("double") >= thresh), k
        ).otherwise(acc),
    )
    pre = packed.select(
        "_g",
        crossing.alias("_cbkt"),
        prefix(crossing).alias("_voff"),
    )
    j = bucketed.join(F.broadcast(pre), "_g").filter(
        F.col("_gr_bkt") == F.col("_cbkt")
    )
    win = Window.partitionBy("_g", "_gr_bkt").orderBy("_v", *tiebreaks)
    cum = F.col("_voff") + F.sum("_w").over(
        win.rowsBetween(Window.unboundedPreceding, 0)
    )
    picked = (
        j.withColumn("_cw", cum)
        .withColumn("_rn", F.row_number().over(win))
        .filter(F.col("_cw").cast("double") >= thresh)
    )
    return (
        picked.groupBy("_g")
        .agg(
            F.max("_n").alias("n"),
            F.max("_wt").alias("_wt"),
            F.min(F.struct(F.col("_rn"), F.col("_v"))).alias("_m"),
        )
        .select(
            F.col("_g").alias(group_col),
            "n",
            F.col("_wt").cast("double").alias("total_w"),
            F.col("_m._v").cast("double").alias("wq"),
        )
    )


def psi_drift(
    a: DataFrame,
    b: DataFrame,
    metric: Column,
    bucket_width: float,
    n_buckets: int,
    out_metric_name: str = "psi",
) -> DataFrame:
    """Population Stability Index between two cohorts of a numeric
    metric: PSI = Σ (p_A − p_B)·ln(p_A / p_B) over fixed-width capped
    buckets with add-one smoothing (so empty buckets stay defined) —
    the standard ML-monitoring drift score (PSI > 0.2 ≈ significant).

    Each cohort is one bucketed aggregate; shares are single double
    expressions over exact integers and the PSI sum folds the
    (constant-bounded) bucket array in bucket order — engine-exact.
    Output: one row (n_a, n_b, psi)."""
    def hist(df: DataFrame, side: str) -> DataFrame:
        bkt = F.least(
            F.lit(n_buckets - 1),
            F.floor(metric.cast("double") / F.lit(float(bucket_width))).cast("int"),
        )
        return df.select(bkt.alias("_bkt")).groupBy("_bkt").agg(
            F.count(F.lit(1)).alias(f"_n_{side}")
        )
    ha = hist(a, "a")
    hb = hist(b, "b")
    j = ha.join(hb, "_bkt", "full_outer").select(
        F.coalesce(F.col("_bkt"), F.lit(0)).alias("_bkt"),
        F.coalesce(F.col("_n_a"), F.lit(0)).alias("_na"),
        F.coalesce(F.col("_n_b"), F.lit(0)).alias("_nb"),
    )
    tot = j.agg(F.sum("_na").alias("_ta"), F.sum("_nb").alias("_tb"))
    t = j.crossJoin(F.broadcast(tot))
    pa = (F.col("_na") + 1).cast("double") / (
        F.col("_ta") + F.lit(n_buckets)
    ).cast("double")
    pb = (F.col("_nb") + 1).cast("double") / (
        F.col("_tb") + F.lit(n_buckets)
    ).cast("double")
    term = (pa - pb) * F.log(pa / pb)
    folded = t.select(
        "_bkt", term.alias("_t"), "_ta", "_tb"
    ).agg(
        F.array_sort(F.collect_list(F.struct("_bkt", "_t"))).alias("_vs"),
        F.max("_ta").alias("n_a"),
        F.max("_tb").alias("n_b"),
    )
    psi = F.aggregate(F.col("_vs"), F.lit(0.0), lambda acc, s: acc + s["_t"])
    return folded.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        psi.alias(out_metric_name),
    )


def order_reconciliation(
    orders: DataFrame,
    lineitem: DataFrame,
    tol: float = 1.0,
) -> DataFrame:
    """Header-vs-detail value reconciliation: recompute each order's
    total from its lines (`extendedprice·(1−discount)·(1+tax)`, exact
    decimal) and report how many headers disagree beyond ``tol`` —
    the financial-close audit between a fact header and its detail
    table.

    One map-side-combined per-order aggregate, one co-partitioned
    equi-join on the order key, one 1-row rollup.  Output:
    (n_orders, n_no_lines, n_mismatch, max_abs_diff, sum_header,
    sum_detail)."""
    calc = lineitem.groupBy(F.col("l_orderkey").alias("_ok")).agg(
        F.sum(
            (
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)"))
                * (F.lit(1) + F.col("l_tax").cast("decimal(4,2)"))
            )
        ).alias("_calc")
    )
    j = orders.select(
        "o_orderkey", F.col("o_totalprice").cast("decimal(18,2)").alias("_hdr")
    ).join(calc, F.col("o_orderkey") == F.col("_ok"), "left")
    diff = F.abs(
        F.col("_hdr").cast("double") - F.col("_calc").cast("double")
    )
    return j.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("_calc").isNull().cast("long")).alias("n_no_lines"),
        F.sum(
            (F.col("_calc").isNotNull() & (diff > float(tol))).cast("long")
        ).alias("n_mismatch"),
        F.max(diff).alias("max_abs_diff"),
        F.sum("_hdr").cast("double").alias("sum_header"),
        F.sum("_calc").cast("double").alias("sum_detail"),
    )


def hierarchy_share(
    fact: DataFrame,
    level1: DataFrame,
    level2: DataFrame,
    fact_key: str,
    l2_key: str,
    l2_parent: str,
    l1_key: str,
    l1_name: str,
    l2_name: str,
    value_col: str,
) -> DataFrame:
    """Percent-of-parent and percent-of-total through a two-level
    dimension hierarchy (region → nation → customers' revenue): fact
    aggregates once on its dim key, both dimension joins broadcast,
    and the parent/grand totals re-derive from the LEAF aggregate
    (bounded frames) — the fact table is scanned exactly once.
    Output: (l1, l2, value, share_of_parent, share_of_total)."""
    per_leaf = fact.groupBy(F.col(fact_key).alias("_k")).agg(
        F.sum(dec(value_col)).alias("_v")
    )
    dim = level2.select(
        F.col(l2_key).alias("_k"),
        F.col(l2_name).alias("l2"),
        F.col(l2_parent).alias("_p"),
    ).join(
        F.broadcast(
            level1.select(F.col(l1_key).alias("_p"), F.col(l1_name).alias("l1"))
        ),
        "_p",
    )
    leaf = per_leaf.join(F.broadcast(dim), "_k").groupBy("l1", "l2").agg(
        F.sum("_v").alias("_lv")
    )
    parents = leaf.groupBy("l1").agg(F.sum("_lv").alias("_pv"))
    total = leaf.agg(F.sum("_lv").alias("_tv"))
    return (
        leaf.join(F.broadcast(parents), "l1")
        .crossJoin(F.broadcast(total))
        .select(
            "l1",
            "l2",
            F.col("_lv").cast("double").alias("value"),
            (F.col("_lv").cast("double") / F.col("_pv").cast("double")).alias(
                "share_of_parent"
            ),
            (F.col("_lv").cast("double") / F.col("_tv").cast("double")).alias(
                "share_of_total"
            ),
        )
    )


def mutual_information(
    df: DataFrame,
    col_a: str,
    col_b: str,
) -> DataFrame:
    """Mutual information (nats) between two categorical columns plus
    marginal entropies and the normalized MI — the feature-association
    report that tells a training-mix owner whether two metadata
    columns (language × source, segment × region) carry redundant
    signal.

    One (a, b) cell aggregate (map-side combined) plus BOUNDED
    marginal aggregates; all three double sums fold their
    category-bounded arrays in key order inside 1-row aggregates (the
    ``chi_square_report`` trick), so the FP accumulation order is
    engine-reproducible.  Output: one row (n, mi, h_a, h_b, nmi)."""
    cells = df.groupBy(F.col(col_a).alias("_a"), F.col(col_b).alias("_b")).agg(
        F.count(F.lit(1)).alias("_o")
    )
    rows = cells.groupBy("_a").agg(F.sum("_o").alias("_ra"))
    cols = cells.groupBy("_b").agg(F.sum("_o").alias("_cb"))
    tot = cells.agg(F.sum("_o").alias("_nn"))

    def ent(frame: DataFrame, key: str, cnt: str, out: str) -> DataFrame:
        t = frame.crossJoin(F.broadcast(tot))
        p = F.col(cnt).cast("double") / F.col("_nn").cast("double")
        folded = t.select(key, (-p * F.log(p)).alias("_t")).agg(
            F.array_sort(F.collect_list(F.struct(key, "_t"))).alias("_vs")
        )
        return folded.select(
            F.aggregate(F.col("_vs"), F.lit(0.0), lambda acc, s: acc + s["_t"]).alias(out)
        )

    j = (
        cells.join(F.broadcast(rows), "_a")
        .join(F.broadcast(cols), "_b")
        .crossJoin(F.broadcast(tot))
    )
    o = F.col("_o").cast("double")
    n = F.col("_nn").cast("double")
    term = (o / n) * F.log(
        o * n / (F.col("_ra").cast("double") * F.col("_cb").cast("double"))
    )
    mi = (
        j.select("_a", "_b", term.alias("_t"), "_nn")
        .agg(
            _capped_packed(
                F.array_sort(F.collect_list(F.struct("_a", "_b", "_t"))),
                "mutual_information",
            ).alias("_vs"),
            F.max("_nn").alias("n"),
        )
        .select(
            F.col("n").cast("long").alias("n"),
            F.aggregate(
                F.col("_vs"), F.lit(0.0), lambda acc, s: acc + s["_t"]
            ).alias("mi"),
        )
    )
    out = mi.crossJoin(F.broadcast(ent(rows, "_a", "_ra", "h_a"))).crossJoin(
        F.broadcast(ent(cols, "_b", "_cb", "h_b"))
    )
    denom = F.sqrt(F.col("h_a") * F.col("h_b"))
    return out.select(
        "n",
        "mi",
        "h_a",
        "h_b",
        F.when(denom > 0, F.col("mi") / denom).otherwise(F.lit(0.0)).alias("nmi"),
    )


def user_streaks(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Longest consecutive-day activity streak per user, reported as a
    (streak_days → n_users) distribution — the retention-health view
    product teams watch.

    Gaps-and-islands: per-user DISTINCT active days (one shuffle,
    map-side combined), island id = day − row_number() in a window
    PARTITIONED BY USER (bounded by the calendar span of one user's
    activity, never data volume), two grouped counts.  Pure integer
    logic — engine-exact.  ``ts_col`` is epoch-nanos."""
    from pyspark.sql import Window

    day = F.expr(f"{ts_col} div {86_400_000_000_000}")
    d = events.select(F.col(user_col).alias("_u"), day.alias("_d")).distinct()
    w = Window.partitionBy("_u").orderBy("_d")
    isl = d.withColumn("_i", F.col("_d") - F.row_number().over(w))
    streaks = isl.groupBy("_u", "_i").agg(F.count(F.lit(1)).alias("_len"))
    per_user = streaks.groupBy("_u").agg(F.max("_len").alias("streak_days"))
    return (
        per_user.groupBy("streak_days")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("streak_days")
    )


def first_seen_growth(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Cumulative-distinct-user growth curve: per day, how many users
    appear for the FIRST time and the running total — the audience
    growth chart, computed without any distinct-over-window blowup.

    First-seen day per user is one map-side-combined min aggregate;
    the day frame (calendar-bounded) gets its running total from the
    two-phase ``global_row_number(cum_value=...)`` — integer addition
    is associative, so the two-phase cumulative equals the flat
    running sum exactly, with no unpartitioned window.  Output:
    (day_num, new_users, cum_users)."""
    from csp_gateway_spark.plans.scale import global_row_number

    day = F.expr(f"min({ts_col}) div {86_400_000_000_000}")
    first = events.groupBy(F.col(user_col).alias("_u")).agg(day.alias("_d"))
    daily = first.groupBy("_d").agg(F.count(F.lit(1)).alias("new_users"))
    ranked = global_row_number(
        daily, "_d", [], rn_col="_rn", cum_value="new_users",
        cum_col="_cum", small_threshold=TARGET_ROWS_PER_BUCKET,
    )
    return ranked.select(
        F.col("_d").alias("day_num"),
        "new_users",
        F.col("_cum").cast("long").alias("cum_users"),
    ).orderBy("day_num")


def active_orders(
    orders: DataFrame,
    lineitem: DataFrame,
    open_col: str = "o_orderdate",
    close_col: str = "l_shipdate",
) -> DataFrame:
    """Concurrent-open-orders timeline: for every day on which the
    count changes, how many orders are open (opened at
    ``o_orderdate``, closed after their last shipment day) — the
    classic interval-overlap counting problem, solved with ±1 delta
    events and a running sum instead of an interval self-join (which
    is O(n²) at scale).

    Close day per order is one max aggregate; deltas aggregate per
    day (calendar-bounded frame); the running total comes from the
    two-phase ``global_row_number(cum_value=...)`` — exact integer
    cumulative, no unpartitioned window.  Orders without line items
    are excluded (no close evidence).  Output: (day_num,
    open_orders)."""
    from csp_gateway_spark.plans.scale import global_row_number

    closes = lineitem.groupBy(F.col("l_orderkey").alias("_k")).agg(
        F.max(F.to_date(F.col(close_col))).alias("_close")
    )
    opens = orders.select(
        F.col("o_orderkey").alias("_k"), F.to_date(F.col(open_col)).alias("_open")
    )
    j = opens.join(closes, "_k")
    epoch = F.lit("1970-01-01")
    deltas = j.select(
        F.explode(
            F.array(
                F.struct(
                    F.datediff(F.col("_open"), epoch).alias("_d"),
                    F.lit(1).alias("_delta"),
                ),
                F.struct(
                    (F.datediff(F.col("_close"), epoch) + 1).alias("_d"),
                    F.lit(-1).alias("_delta"),
                ),
            )
        ).alias("_e")
    ).select("_e._d", "_e._delta")
    daily = deltas.groupBy("_d").agg(F.sum("_delta").cast("long").alias("_dl"))
    ranked = global_row_number(
        daily, "_d", [], rn_col="_rn", cum_value="_dl",
        cum_col="_cum", small_threshold=TARGET_ROWS_PER_BUCKET,
    )
    return ranked.select(
        F.col("_d").alias("day_num"), F.col("_cum").cast("long").alias("open_orders")
    ).orderBy("day_num")


def mann_kendall(
    series: DataFrame,
    key_col,
    value_col,
) -> DataFrame:
    """Mann-Kendall trend test of an ordered series: S = Σ_{i<j}
    sign(y_j − y_i) over key order, the tie-corrected variance
    Var(S) = [n(n−1)(2n+5) − Σ_g t_g(t_g−1)(2t_g+5)] / 18, and the
    continuity-corrected normal statistic Z — the standard
    distribution-free "is this metric trending" test, the inferential
    companion of the ``theil_sen`` slope (use MK to decide IF a trend
    exists, Theil-Sen to size it).

    The series collapses to one row per key first (duplicate keys sum,
    the same convention as the other series operators), values
    quantize at decimal(18,2) so the pairwise sign and the tie groups
    are engine-exact; S and the variance are integer arithmetic and Z
    is one closed-form double.  The pairwise stage is an explicit
    key-ordered self-join — O(n²) pairs BY CONTRACT on a
    calendar-bounded series (a 10-year daily series is ~6.7M pairs;
    guard anything unbounded upstream with an aggregation).  Output:
    one row (n, s_stat, var_s, z)."""
    k = F.col(key_col) if isinstance(key_col, str) else key_col
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    base = (
        series.groupBy(k.cast("long").alias("_k"))
        .agg(F.sum(v.cast("decimal(18,2)")).alias("_y"))
        .localCheckpoint(eager=False)
    )
    a, b = base.alias("a"), base.alias("b")
    s_row = (
        a.join(b, F.col("a._k") < F.col("b._k"))
        .agg(
            F.coalesce(
                F.sum(
                    F.signum(
                        (F.col("b._y") - F.col("a._y")).cast("double")
                    ).cast("long")
                ),
                F.lit(0).cast("long"),
            ).alias("_S")
        )
    )
    t = F.col("_t").cast("decimal(20,0)")
    stats = base.agg(
        F.count(F.lit(1)).alias("_n"),
    ).crossJoin(
        F.broadcast(
            base.groupBy("_y")
            .agg(F.count(F.lit(1)).alias("_t"))
            .agg(
                F.coalesce(
                    F.sum(
                        (
                            t
                            * (t - F.lit(1).cast("decimal(2,0)"))
                            * (
                                F.lit(2).cast("decimal(2,0)") * t
                                + F.lit(5).cast("decimal(2,0)")
                            )
                        ).cast("decimal(38,0)")
                    ),
                    F.lit(0).cast("decimal(38,0)"),
                ).alias("_tt")
            )
        )
    )
    n = F.col("_n").cast("double")
    var_s = (
        n * (n - F.lit(1.0)) * (F.lit(2.0) * n + F.lit(5.0))
        - F.col("_tt").cast("double")
    ) / F.lit(18.0)
    s = F.col("_S").cast("double")
    z = F.when(var_s <= 0, F.lit(None).cast("double")).otherwise(
        F.when(s > 0, (s - F.lit(1.0)) / F.sqrt(var_s))
        .when(s < 0, (s + F.lit(1.0)) / F.sqrt(var_s))
        .otherwise(F.lit(0.0))
    )
    return s_row.crossJoin(F.broadcast(stats)).select(
        F.col("_n").cast("long").alias("n"),
        F.col("_S").alias("s_stat"),
        var_s.alias("var_s"),
        z.alias("z"),
    )


def levene_test(
    df: DataFrame,
    group_col,
    value_col: str,
) -> DataFrame:
    """Brown-Forsythe (median-centered Levene) homogeneity-of-variance
    test: the one-way ANOVA F over the absolute deviations
    z = |y − median_g| — the variance-equality gate to run BEFORE
    trusting :func:`anova_f`'s equal-variance assumption (a
    significant W says the group variances differ).

    Exactness: group medians of (18,2)-quantized data land on
    half-cents, and a half-cent is exactly representable in a double
    (it is (a+b)/2 of two exact cent values), so the deviations are
    DOUBLED — 2·|y − med_g| = |2y − (a+b)| is exact at (18,2) — before
    feeding :func:`anova_f`, whose F statistic is scale-invariant; no
    rounding enters anywhere.  One grouped percentile scan + one
    broadcast join + the anova_f moment scan.  Output: one row
    (n, k, ssb, ssw, f) over the doubled deviations."""
    g = F.col(group_col) if isinstance(group_col, str) else group_col
    y2 = (F.lit(2).cast("decimal(2,0)") * F.col(value_col).cast("decimal(18,2)")).cast(
        "decimal(19,2)"
    )
    med = df.groupBy(g.alias("_g")).agg(
        F.percentile(F.col(value_col).cast("double"), F.lit(0.5)).alias("_med")
    )
    z = df.join(F.broadcast(med), g == F.col("_g")).select(
        F.col("_g"),
        F.abs(
            y2 - (F.col("_med") * F.lit(2.0)).cast("decimal(19,2)")
        ).alias("_z2"),
    )
    return anova_f(z, "_g", "_z2")


def pettitt_test(
    series: DataFrame,
    key_col,
    value_col,
) -> DataFrame:
    """Pettitt change-point test of an ordered series: U_t = Σ_{i≤t}
    Σ_{j>t} sign(y_j − y_i), K = max_t |U_t|, split at the argmax —
    the rank-based (distribution-free) complement of
    :func:`changepoint`'s variance-reduction split, robust to
    outliers and level shifts in heavy-tailed metrics.  The
    approximate significance is p ≈ 2·exp(−6K²/(n³+n²)).

    All U_t come from ONE pair pass: a pair (i<j) contributes its
    sign to every t in [i, j), so aggregating +sign at t=k_i and
    −sign at t=k_j builds a DIFFERENCE ARRAY whose key-ordered prefix
    sum (the collapsed two-phase cumulative — the frame is
    distinct-key-bounded) is U_t — no per-t rescan.  Like
    :func:`mann_kendall`, the O(n²) pair stage is calendar-bounded by
    contract.  Ties in |U_t| resolve to the smallest key.  Output:
    one row (n, k_stat, split_key, p_approx)."""
    from csp_gateway_spark.plans.scale import (
        TARGET_ROWS_PER_BUCKET, global_row_number,
    )

    k = F.col(key_col) if isinstance(key_col, str) else key_col
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    base = (
        series.groupBy(k.cast("long").alias("_k"))
        .agg(F.sum(v.cast("decimal(18,2)")).alias("_y"))
        .localCheckpoint(eager=False)
    )
    a, b = base.alias("a"), base.alias("b")
    sgn = F.signum((F.col("b._y") - F.col("a._y")).cast("double")).cast("long")
    deltas = (
        a.join(b, F.col("a._k") < F.col("b._k"))
        .select(
            F.explode(
                F.array(
                    F.struct(F.col("a._k").alias("_k"), sgn.alias("_d")),
                    F.struct(F.col("b._k").alias("_k"), (-sgn).alias("_d")),
                )
            ).alias("_e")
        )
        .select("_e._k", "_e._d")
        .groupBy("_k")
        .agg(F.sum("_d").cast("decimal(18,0)").alias("_d"))
    )
    ranked = global_row_number(
        deltas, "_k", [], rn_col="_rn", cum_value="_d", cum_col="_u",
        small_threshold=TARGET_ROWS_PER_BUCKET,
    )
    scored = ranked.select(
        F.col("_k"), F.abs(F.col("_u").cast("long")).alias("_absu")
    )
    top = scored.orderBy(F.desc("_absu"), F.asc("_k")).limit(1)
    n_row = base.agg(F.count(F.lit(1)).alias("_n"))
    nn = F.col("_n").cast("double")
    return top.crossJoin(F.broadcast(n_row)).select(
        F.col("_n").cast("long").alias("n"),
        F.col("_absu").alias("k_stat"),
        F.col("_k").alias("split_key"),
        F.least(
            F.lit(1.0),
            F.lit(2.0)
            * F.exp(
                F.lit(-6.0)
                * F.col("_absu").cast("double")
                * F.col("_absu").cast("double")
                / (nn * nn * nn + nn * nn)
            ),
        ).alias("p_approx"),
    )


def group_ols_trend(
    df: DataFrame,
    group_col,
    x_col,
    y_col,
) -> DataFrame:
    """Per-group ordinary-least-squares trend line (slope + intercept)
    of y over x — "revenue trend per nation", the segment-level twin
    of ``theil_sen``.

    The fact table collapses to one (group, x) point first; the five
    OLS sums (n, Σx, Σy, Σx², Σxy) accumulate EXACTLY (integer x,
    decimal y, decimal products capped below the 38-digit limit), so
    the closed-form slope/intercept are single double expressions over
    exact inputs — engine-identical.  Output per group:
    (group, n_points, slope, intercept)."""
    pts = df.groupBy(
        F.col(group_col).alias("_g") if isinstance(group_col, str) else group_col.alias("_g"),
        (F.col(x_col) if isinstance(x_col, str) else x_col).cast("long").alias("_x"),
    ).agg(F.sum(dec(y_col) if isinstance(y_col, str) else y_col.cast("decimal(18,2)")).alias("_y"))
    x19 = F.col("_x").cast("decimal(19,0)")
    sums = pts.groupBy("_g").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum(x19 * x19).alias("_sxx"),
        F.sum((x19 * F.col("_y")).cast("decimal(38,2)")).alias("_sxy"),
    )
    n = F.col("_n").cast("double")
    sx = F.col("_sx").cast("double")
    sy = F.col("_sy").cast("double")
    sxx = F.col("_sxx").cast("double")
    sxy = F.col("_sxy").cast("double")
    denom = n * sxx - sx * sx
    slope = F.when(denom != 0, (n * sxy - sx * sy) / denom)
    return sums.select(
        F.col("_g").alias("grp"),
        F.col("_n").cast("long").alias("n_points"),
        slope.alias("slope"),
        ((sy - slope * sx) / n).alias("intercept"),
    )


def ntile_histogram(
    df: DataFrame,
    value_col: str,
    tiebreaks: Sequence[str],
    buckets: int = 10,
    probe_buckets: int = 1024,
) -> DataFrame:
    """Exact equal-count (equi-depth) histogram: split the column into
    ``buckets`` ANSI-ntile tiles and report each tile's row count and
    [lo, hi] value envelope — the boundary table a query optimizer or
    data-profiling report wants.  Ties break on ``tiebreaks`` so the
    tile assignment is a strict total order.  Output per tile:
    (bucket, n, lo, hi).

    CONTRACT: ``value_col`` must be numeric (double-castable — the
    probe ranges are arithmetic on the value) and NULLs are excluded
    from the rank domain (the envelope [lo, hi] is a value statistic;
    a NULL has no place on a value axis).  This intentionally differs
    from a bare ANSI ``ntile`` over an arbitrary orderable column,
    which ranks NULLs first and accepts strings/dates — profile those
    with ``value_histogram``/``profile_table`` instead.

    The histogram never needs per-ROW tile assignment: ANSI ntile tile
    sizes are closed-form (base = ⌊N/b⌋, the first N mod b tiles get
    one extra row) and each tile's [lo, hi] envelope is a pair of
    order statistics — the values at global ranks offset(i)+1 and
    offset(i)+n_i — which depend only on the VALUE's multiset, never
    on tiebreaks (ties share a value).  And order statistics at 2·b
    KNOWN ranks never need the full ECDF either: one scan-only
    min/max/count, one 32×``probe_buckets`` map-combined range-probe
    count (both bounded driver rows), then the driver resolves which
    probe ranges contain boundary ranks and ONLY those ranges' cells
    are grouped and cumulated — a PARTITIONED window over the pruned
    boundary neighborhoods with driver-known range offsets, never a
    single-task pass over all distinct values.  Row skew is immune
    (a heavy value is ONE cell); distinct-value skew merely widens a
    neighborhood (worst case = the old full-ECDF cost).  Probe
    bucketing only needs a monotone value→range map, so the double
    cast's rounding cannot misrank anything — local rank + exact
    per-range offsets reproduce the exact global rank."""
    from pyspark.sql import Window

    v = F.col(value_col)
    base = df.filter(v.isNotNull()).select(v.alias("_v"))
    spark = df.sparkSession
    stats = base.agg(
        F.min("_v").alias("_mn"), F.max("_v").alias("_mx"),
        F.count(F.lit(1)).alias("_n"),
    ).collect()[0]
    n = int(stats["_n"])
    if n == 0:
        return spark.createDataFrame([], "bucket long, n long, lo double, hi double")
    b = int(buckets)
    base_sz, rem = divmod(n, b)
    tiles = [
        (i, base_sz + (1 if i <= rem else 0), (i - 1) * base_sz + min(i - 1, rem))
        for i in range(1, b + 1)
    ]
    # N < buckets: ANSI ntile leaves the tail tiles empty
    tiles = [(i, sz, off) for i, sz, off in tiles if sz > 0]
    targets = [
        (i, sz, side, off + 1 if side == "lo" else off + sz)
        for i, sz, off in tiles
        for side in ("lo", "hi")
    ]
    mn_d, mx_d = float(stats["_mn"]), float(stats["_mx"])
    span = mx_d - mn_d
    if span > 0:
        p = int(probe_buckets)
        pb_expr = F.least(
            F.lit(p - 1),
            F.greatest(
                F.lit(0),
                F.floor(
                    (F.col("_v").cast("double") - F.lit(mn_d)) / F.lit(span) * F.lit(p)
                ).cast("int"),
            ),
        )
    else:  # single value / double-collapsed range: one probe range
        p = 1
        pb_expr = F.lit(0).cast("int")
    probed = base.select("_v", pb_expr.alias("_pb"))
    pc = {
        int(r["_pb"]): int(r["_c"])
        for r in probed.groupBy("_pb").agg(F.count(F.lit(1)).alias("_c")).collect()
    }  # ≤ probe_buckets bounded driver rows
    offs: dict = {}
    acc = 0
    for pb in range(p):
        offs[pb] = acc
        acc += pc.get(pb, 0)
    present = sorted(pc)
    bounds = [(pb, offs[pb], offs[pb] + pc[pb]) for pb in present]
    needed = set()
    for _, _, _, t in targets:
        for pb, lo, hi in bounds:
            if lo < t <= hi:
                needed.add(pb)
                break
    needed_pbs = sorted(needed)
    cells = (
        probed.filter(F.col("_pb").isin(needed_pbs))
        .groupBy("_pb", "_v")
        .agg(F.count(F.lit(1)).cast("long").alias("_c"))
    )
    w = Window.partitionBy("_pb").orderBy("_v")
    off_map = F.create_map(
        *[x for pb in needed_pbs for x in (F.lit(pb), F.lit(offs[pb]))]
    )
    ecdf = cells.select(
        "_v",
        (off_map[F.col("_pb")] + F.sum("_c").over(w)).alias("_r_hi"),
        F.col("_c"),
    ).select(
        "_v", (F.col("_r_hi") - F.col("_c") + 1).alias("_r_lo"), "_r_hi"
    )
    targets_df = spark.createDataFrame(
        targets, "bucket long, n long, _side string, _target long"
    )
    # both boundary order statistics of every tile ride ONE broadcast
    # nested-loop join (2·buckets tiny rows against the pruned ECDF),
    # pivoted back to (lo, hi) by a per-tile aggregate
    return _finalize_bounded(
        F.broadcast(targets_df)
        .join(
            ecdf,
            (F.col("_target") >= F.col("_r_lo"))
            & (F.col("_target") <= F.col("_r_hi")),
        )
        .groupBy("bucket", "n")
        .agg(
            F.max(F.when(F.col("_side") == "lo", F.col("_v"))).cast("double").alias("lo"),
            F.max(F.when(F.col("_side") == "hi", F.col("_v"))).cast("double").alias("hi"),
        )
        .orderBy("bucket")
    )


def survival_steps(
    df: DataFrame,
    duration_col,
    censored_col,
) -> DataFrame:
    """Collapse right-censored (duration, censored) observations to
    the survival STEP TABLE ``(_t, _d, _n)`` — deaths and totals per
    distinct duration — the shared upstream of :func:`kaplan_meier`,
    :func:`nelson_aalen` and :func:`rmst`.  One hash aggregate;
    callers computing several survival statistics over the same
    cohort should ``localCheckpoint`` this once and feed the
    ``*_from_steps`` forms instead of re-collapsing the fact table
    per statistic."""
    dur = F.col(duration_col) if isinstance(duration_col, str) else duration_col
    cen = F.col(censored_col) if isinstance(censored_col, str) else censored_col
    return df.select(
        dur.cast("long").alias("_t"), cen.cast("int").alias("_c")
    ).groupBy("_t").agg(
        F.sum((F.col("_c") == 0).cast("long")).alias("_d"),
        F.count(F.lit(1)).alias("_n"),
    )


def kaplan_meier(
    df: DataFrame,
    duration_col,
    censored_col,
) -> DataFrame:
    """Kaplan-Meier survival estimator over integer durations with
    right-censoring: S(t_k) = Π_{i ≤ k} (1 − d_i / n_i) where d_i =
    events at duration t_i and n_i = subjects still at risk — the
    standard time-to-event curve (order→ship latency, churn time,
    ticket resolution).

    Durations collapse to one row per distinct value (one hash
    aggregate); at-risk counts n_i are a reverse running sum over the
    DURATION-bounded step table, and every prefix product folds the
    step array in duration order inside a 1-row aggregate — the
    FP multiplication order is pinned, so the curve is
    engine-reproducible.  Output per event step: (t, n_risk, d,
    survival)."""
    return kaplan_meier_from_steps(
        survival_steps(df, duration_col, censored_col)
    )


def _blocked_append_scan(arr, row_type, init_rem, init_run, scan, block: int = 128):
    """Left-to-right fold of the survival ``scan`` step over ``arr``
    with the ROWS-array accumulation restructured into blocks of
    ``block`` elements: the flat fold's per-element
    ``concat(acc.rows, [row])`` copies the whole accumulated array
    every step — O(n²) struct copies (measured ~1.5 s at 4.9k steps
    at sf0.1, and hours at a 100k-duration domain) — while blocking
    costs O(n·B + n²/B), minimized near B≈√n.  Elements are still
    processed strictly in order with the SAME running (rem, run)
    scalar sequence, so every sum/product adds/multiplies in the
    identical order and the output is bit-identical to the flat fold
    (and to the DuckDB oracle's list_reduce).

    ``arr`` MUST be a bound column attribute (not an inline
    expression): it is sliced once per block inside an interpreted
    HOF lambda, which would re-evaluate an inline expression per
    block.  The inner fold result is bound as a lambda variable
    before its three field reads for the same reason."""
    empty = F.lit([]).cast(T.ArrayType(row_type))
    nb = F.ceil(F.size(arr) / F.lit(block)).cast("int")
    blocks = F.sequence(F.lit(0), F.greatest(nb - F.lit(1), F.lit(0)))
    outer_init = F.struct(
        empty.alias("rows"), init_rem.alias("rem"), init_run.alias("run")
    )

    def outer(acc, bi):
        blk = F.slice(arr, bi * F.lit(block) + 1, block)
        inner_init = F.struct(
            empty.alias("rows"), acc["rem"].alias("rem"), acc["run"].alias("run")
        )
        inner = F.aggregate(blk, inner_init, scan)
        return F.transform(
            F.array(inner),
            lambda iv: F.struct(
                F.concat(acc["rows"], iv["rows"]).alias("rows"),
                iv["rem"].alias("rem"),
                iv["run"].alias("run"),
            ),
        )[0]

    return F.aggregate(blocks, outer_init, outer)


def kaplan_meier_from_steps(steps: DataFrame) -> DataFrame:
    """:func:`kaplan_meier` over a precollapsed
    :func:`survival_steps` table — the shared-checkpoint form."""
    packed = steps.agg(
        _capped_packed(
            F.array_sort(F.collect_list(F.struct("_t", "_d", "_n"))),
            "kaplan_meier",
        ).alias("_s")
    )
    # duration-bounded single-row fold.  ONE O(n) left-to-right scan
    # carries the running at-risk count AND the running survival
    # product (the per-index slice re-folds would be O(n²) interpreted
    # higher-order ops — measured ~4 s at 4.5k steps); the multiply
    # sequence 1·f₁·f₂·… is unchanged, so the curve is bit-identical
    # to the per-prefix fold and to the oracle's list_reduce
    total = F.aggregate(
        F.col("_s"), F.lit(0).cast("long"), lambda a, s: a + s["_n"]
    )
    row_t = T.StructType(
        [
            T.StructField("t", T.LongType()),
            T.StructField("n_risk", T.LongType()),
            T.StructField("d", T.LongType()),
            T.StructField("survival", T.DoubleType()),
        ]
    )

    def scan(acc, s):
        r = acc["rem"]
        f = F.lit(1.0) - s["_d"].cast("double") / r.cast("double")
        run2 = acc["run"] * f
        return F.struct(
            F.concat(
                acc["rows"],
                F.array(
                    F.struct(
                        s["_t"].alias("t"), r.alias("n_risk"),
                        s["_d"].alias("d"), run2.alias("survival"),
                    )
                ),
            ).alias("rows"),
            (acc["rem"] - s["_n"]).alias("rem"),
            run2.alias("run"),
        )

    folded = packed.select(
        _blocked_append_scan(F.col("_s"), row_t, total, F.lit(1.0), scan)[
            "rows"
        ].alias("_rows")
    )
    rows = folded.select(F.explode(F.col("_rows")).alias("_row"))
    return rows.select(
        F.col("_row.t").alias("t"),
        F.col("_row.n_risk").alias("n_risk"),
        F.col("_row.d").alias("d"),
        F.col("_row.survival").alias("survival"),
    ).filter(F.col("d") > 0).orderBy("t")


def correlation_matrix(
    df: DataFrame,
    cols: Sequence[str],
    scale: int = 2,
    sums: DataFrame | None = None,
) -> DataFrame:
    """Pairwise Pearson correlations of numeric fact columns in ONE
    scan: every Σx, Σx², Σxy accumulates EXACTLY in decimal (inputs
    quantized at ``scale`` dp; products narrowed per the 38-digit
    cap), so each correlation is a single double expression over
    exact sums — engine-identical, no per-pair rescans, no
    row-by-row covariance updates.  Output per pair (upper triangle):
    (var_a, var_b, corr)."""
    # quantize at (18, scale): an (18,s)×(18,s) product is precision
    # 18+18+1 = 37 ≤ 38, so NEITHER engine precision-adjusts — squaring
    # a (19,s) value would hit precision 39 and rely on Spark's silent
    # min-scale clamp landing on 2·scale, which only holds for scale≤3.
    if scale > 3:
        raise ValueError(
            f"correlation_matrix: scale={scale} > 3 — the exact-decimal "
            "product path requires 2*scale+1 integer headroom inside "
            "precision 38; pre-round the inputs instead"
        )
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1:]]
    if sums is None:
        qcols = {c: F.col(c).cast(f"decimal(18,{scale})") for c in cols}
        aggs = [F.count(F.lit(1)).alias("_n")]
        for c in cols:
            aggs.append(F.sum(qcols[c]).alias(f"_s_{c}"))
            aggs.append(
                F.sum((qcols[c] * qcols[c]).cast(f"decimal(38,{2 * scale})")).alias(
                    f"_ss_{c}"
                )
            )
        for a, b in pairs:
            aggs.append(
                F.sum((qcols[a] * qcols[b]).cast(f"decimal(38,{2 * scale})")).alias(
                    f"_sp_{a}_{b}"
                )
            )
        sums = df.agg(*aggs)
    # else: caller supplies a pre-built 1-row frame with the same
    # _n/_s/_ss/_sp column names and the exact values this aggregate
    # would produce (decimal sums are order-independent).
    n = F.col("_n").cast("double")

    def corr(a: str, b: str):
        sa = F.col(f"_s_{a}").cast("double")
        sb = F.col(f"_s_{b}").cast("double")
        cov = n * F.col(f"_sp_{a}_{b}").cast("double") - sa * sb
        va = n * F.col(f"_ss_{a}").cast("double") - sa * sa
        vb = n * F.col(f"_ss_{b}").cast("double") - sb * sb
        return F.when(va * vb > 0, cov / F.sqrt(va * vb))

    out = sums.select(
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(a).alias("var_a"), F.lit(b).alias("var_b"),
                    corr(a, b).alias("corr"),
                )
                for a, b in pairs
            ])
        ).alias("_e")
    )
    return out.select("_e.var_a", "_e.var_b", "_e.corr").orderBy("var_a", "var_b")


def welch_ttest(
    df: DataFrame,
    group_col,
    value_col: str,
    group_a,
    group_b,
    scale: int = 2,
) -> DataFrame:
    """Welch's unequal-variance t-test between two cohorts of a
    numeric fact column in ONE scan: conditional exact-decimal
    Σx / Σx² per cohort (inputs quantized at ``scale`` dp, products
    narrowed under the 38-digit cap), then the t statistic and
    Welch–Satterthwaite degrees of freedom as single double
    expressions over the exact sums — engine-identical, no per-cohort
    rescans.  Output: one row (n_a, n_b, mean_a, mean_b, t_stat,
    df_welch)."""
    if scale > 3:
        raise ValueError("welch_ttest: scale > 3 breaks the exact-decimal product path")
    g = F.col(group_col) if isinstance(group_col, str) else group_col
    q = F.col(value_col).cast(f"decimal(18,{scale})")
    q2 = (q * q).cast(f"decimal(38,{2 * scale})")

    def side(cond, tag):
        return [
            F.sum(F.when(cond, 1).otherwise(0)).cast("long").alias(f"_n_{tag}"),
            F.sum(F.when(cond, q)).alias(f"_s_{tag}"),
            F.sum(F.when(cond, q2)).alias(f"_ss_{tag}"),
        ]

    sums = df.agg(*side(g == group_a, "a"), *side(g == group_b, "b"))

    def stats(tag):
        n = F.col(f"_n_{tag}").cast("double")
        s = F.col(f"_s_{tag}").cast("double")
        ss = F.col(f"_ss_{tag}").cast("double")
        mean = s / n
        # sample variance from exact sums: (n·Σx² − (Σx)²) / (n·(n−1))
        var = (n * ss - s * s) / (n * (n - F.lit(1.0)))
        return n, mean, var

    na, ma, va = stats("a")
    nb, mb, vb = stats("b")
    sea = va / na
    seb = vb / nb
    se2 = sea + seb
    t = F.when(se2 > 0, (ma - mb) / F.sqrt(se2))
    dfw = F.when(
        se2 > 0,
        (se2 * se2)
        / (sea * sea / (na - F.lit(1.0)) + seb * seb / (nb - F.lit(1.0))),
    )
    return sums.select(
        F.col("_n_a").alias("n_a"),
        F.col("_n_b").alias("n_b"),
        ma.alias("mean_a"),
        mb.alias("mean_b"),
        t.alias("t_stat"),
        dfw.alias("df_welch"),
    )


def lag_correlations(
    series: DataFrame,
    key_col: str,
    value_col: str,
    max_lag: int = 7,
    scale: int = 2,
) -> DataFrame:
    """Lagged Pearson autocorrelations of an integer-keyed series:
    for each lag k in 1..``max_lag``, the correlation of the pairs
    (y_t, y_{t+k}) over every t where BOTH keys exist (gap-aware —
    missing keys simply contribute no pair).

    One lag-exploded equi-join (each series row fans out ``max_lag``
    times, joining back on ``key + k`` — co-partitioned on the key,
    never a window over the whole series) and one grouped aggregate of
    exact-decimal Σa/Σb/Σa²/Σb²/Σab per lag; each correlation is a
    closed-form double over exact sums.  Output per lag:
    (lag, n_pairs, corr)."""
    if scale > 3:
        raise ValueError("lag_correlations: scale > 3 breaks the exact-decimal product path")
    d18 = f"decimal(18,{scale})"
    d38 = f"decimal(38,{2 * scale})"
    a = series.select(
        F.col(key_col).cast("long").alias("_k"),
        F.col(value_col).cast(d18).alias("_va"),
    )
    b = series.select(
        F.col(key_col).cast("long").alias("_kb"),
        F.col(value_col).cast(d18).alias("_vb"),
    )
    fanned = a.withColumn(
        "lag", F.explode(F.sequence(F.lit(1), F.lit(int(max_lag))))
    ).withColumn("_kb", F.col("_k") + F.col("lag"))
    j = fanned.join(b, "_kb")
    sums = j.groupBy("lag").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("_va").alias("_sa"),
        F.sum("_vb").alias("_sb"),
        F.sum((F.col("_va") * F.col("_va")).cast(d38)).alias("_saa"),
        F.sum((F.col("_vb") * F.col("_vb")).cast(d38)).alias("_sbb"),
        F.sum((F.col("_va") * F.col("_vb")).cast(d38)).alias("_sab"),
    )
    n = F.col("_n").cast("double")
    sa = F.col("_sa").cast("double")
    sb = F.col("_sb").cast("double")
    cov = n * F.col("_sab").cast("double") - sa * sb
    va = n * F.col("_saa").cast("double") - sa * sa
    vb = n * F.col("_sbb").cast("double") - sb * sb
    return sums.select(
        "lag",
        F.col("_n").alias("n_pairs"),
        F.when(va * vb > 0, cov / F.sqrt(va * vb)).alias("corr"),
    ).orderBy("lag")


def nelson_aalen(
    df: DataFrame,
    duration_col,
    censored_col,
) -> DataFrame:
    """Nelson-Aalen cumulative-hazard estimator over integer durations
    with right-censoring: H(t_k) = Σ_{i ≤ k} d_i / n_i — the additive
    twin of :func:`kaplan_meier` (same step table, sum fold instead of
    product fold; FP addition order pinned by the duration-ordered
    packed array).  Output per event step: (t, n_risk, d,
    cum_hazard)."""
    return nelson_aalen_from_steps(
        survival_steps(df, duration_col, censored_col)
    )


def nelson_aalen_from_steps(steps: DataFrame) -> DataFrame:
    """:func:`nelson_aalen` over a precollapsed
    :func:`survival_steps` table — the shared-checkpoint form."""
    packed = steps.agg(
        _capped_packed(
            F.array_sort(F.collect_list(F.struct("_t", "_d", "_n"))),
            "nelson_aalen",
        ).alias("_s")
    )
    # O(n) running scan (see kaplan_meier_from_steps): the hazard sum
    # 0+h₁+h₂+… adds in the same left-to-right order as the per-prefix
    # folds, so values are bit-identical
    total = F.aggregate(
        F.col("_s"), F.lit(0).cast("long"), lambda a, s: a + s["_n"]
    )
    row_t = T.StructType(
        [
            T.StructField("t", T.LongType()),
            T.StructField("n_risk", T.LongType()),
            T.StructField("d", T.LongType()),
            T.StructField("cum_hazard", T.DoubleType()),
        ]
    )

    def scan(acc, s):
        r = acc["rem"]
        run2 = acc["run"] + s["_d"].cast("double") / r.cast("double")
        return F.struct(
            F.concat(
                acc["rows"],
                F.array(
                    F.struct(
                        s["_t"].alias("t"), r.alias("n_risk"),
                        s["_d"].alias("d"), run2.alias("cum_hazard"),
                    )
                ),
            ).alias("rows"),
            (acc["rem"] - s["_n"]).alias("rem"),
            run2.alias("run"),
        )

    folded = packed.select(
        _blocked_append_scan(F.col("_s"), row_t, total, F.lit(0.0), scan)[
            "rows"
        ].alias("_rows")
    )
    rows = folded.select(F.explode(F.col("_rows")).alias("_row"))
    return rows.select(
        F.col("_row.t").alias("t"),
        F.col("_row.n_risk").alias("n_risk"),
        F.col("_row.d").alias("d"),
        F.col("_row.cum_hazard").alias("cum_hazard"),
    ).filter(F.col("d") > 0).orderBy("t")


def burstiness(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    top_k: int = 20,
) -> DataFrame:
    """Per-user activity burstiness (Fano factor of daily event
    counts: sample variance / mean — 1 ≈ Poisson, ≫1 = bursty), the
    engagement-shape screen behind bot/burst detection.

    Two grouped integer aggregates (user×day counts, then per-user
    exact moment sums — all long arithmetic, engine-exact) and one
    closed-form double per user; the report is a ``TakeOrdered``
    top-``top_k`` with the user id as tiebreak, so nothing
    user-shaped funnels through a full sort.  ``ts_col`` is
    epoch-nanos.  Output: (user_id, days_active, total_events,
    fano)."""
    day = F.expr(f"{ts_col} div {86_400_000_000_000}")
    daily = events.select(F.col(user_col).alias("_u"), day.alias("_d")).groupBy(
        "_u", "_d"
    ).agg(F.count(F.lit(1)).alias("_c"))
    per_user = daily.groupBy("_u").agg(
        F.count(F.lit(1)).alias("_nd"),
        F.sum("_c").alias("_s"),
        F.sum(F.col("_c") * F.col("_c")).alias("_ss"),
    ).filter(F.col("_nd") >= 2)
    n = F.col("_nd").cast("double")
    s = F.col("_s").cast("double")
    ss = F.col("_ss").cast("double")
    mean = s / n
    var = (n * ss - s * s) / (n * (n - F.lit(1.0)))
    scored = per_user.select(
        F.col("_u").alias(user_col),
        F.col("_nd").alias("days_active"),
        F.col("_s").cast("long").alias("total_events"),
        (var / mean).alias("fano"),
    )
    return scored.orderBy(F.desc("fano"), F.asc(user_col)).limit(top_k)


def _rank_cells(
    df: DataFrame,
    group_col,
    value,
    groups: Sequence,
    cells: Optional[DataFrame] = None,
    cells_count: Optional[int] = None,
    totals: Optional[tuple] = None,
    weight: Optional[str] = None,
):
    """The distinct-value rank cells every cohort rank test shares.

    Rows whose group or value is NULL are dropped (a NULL is not an
    observation).  The rest collapse to one row per distinct ``value``
    (``_v``) carrying the per-cohort counts ``_c0.._c{k-1}`` of
    ``groups`` (``weight`` names a count column to sum instead of
    counting rows).  The collapse is ``localCheckpoint``ed and ONE
    head aggregate collects its cell count and per-cohort totals.
    ONE :func:`plans.scale.global_row_number` then adds the inclusive
    per-cohort running counts ``_m0.._m{k-1}`` as plain longs (a
    single-bucket window up to ``TARGET_ROWS_PER_BUCKET`` cells, the
    range-bucketed two-phase plan above it — never an unpartitioned
    window), and each cell gets

    - ``_t``: the tie count Σc_i;
    - ``_r2``: the DOUBLED combined midrank 2·Σm − t + 1;
    - ``_n0.._n{k-1}``: the cohort totals, as long literals.

    Doubled midranks are exact.  The t tied rows of a cell hold ranks
    below+1 .. below+t (below = Σm − t rows strictly smaller), whose
    mean below + (t+1)/2 is a half-integer; doubling gives the integer
    2·below + t + 1.  Every rank sum a caller builds from ``_r2`` (or
    from a within-cohort 2·m_i − c_i + 1) is therefore an exact
    long/decimal, no floating point accumulates across rows, and the
    caller halves once in its final double formula — the same
    expression the oracle evaluates.

    Returns ``(ranked, cells_count, totals)``.  ``cells`` injects a
    ``ranked`` frame an earlier call returned (shared across
    operators); it is used as is and ``cells_count``/``totals`` pass
    through, so injection launches no job."""
    from csp_gateway_spark.plans.scale import global_row_number

    if cells is not None:
        return cells, cells_count, totals
    k = len(groups)
    g = F.col(group_col) if isinstance(group_col, str) else group_col
    v = F.col(value) if isinstance(value, str) else value
    w = F.lit(1) if weight is None else F.col(weight)
    collapsed = (
        df.filter(g.isin(list(groups)) & v.isNotNull())
        .groupBy(v.alias("_v"))
        .agg(*[
            F.sum(F.when(g == F.lit(grp), w).otherwise(0)).cast("long").alias(f"_c{i}")
            for i, grp in enumerate(groups)
        ])
        .localCheckpoint(eager=True)
    )
    head = collapsed.agg(
        F.count(F.lit(1)).alias("_n"),
        *[F.sum(f"_c{i}").alias(f"_n{i}") for i in range(k)],
    ).collect()[0]
    cells_count = int(head["_n"])
    totals = tuple(int(head[f"_n{i}"] or 0) for i in range(k))
    ranked = global_row_number(
        collapsed, "_v", [], rn_col="_rn",
        cum_values=[(f"_c{i}", f"_m{i}") for i in range(k)],
        small_threshold=TARGET_ROWS_PER_BUCKET, known_count=cells_count,
    )
    t = sum(F.col(f"_c{i}") for i in range(k))
    ranked = ranked.select(
        "*",
        t.alias("_t"),
        (F.lit(2) * sum(F.col(f"_m{i}") for i in range(k)) - t + F.lit(1)).alias("_r2"),
        *[F.lit(n).cast("long").alias(f"_n{i}") for i, n in enumerate(totals)],
    )
    return ranked, cells_count, totals


def ks_test(
    df: DataFrame,
    group_col,
    value_col: str,
    group_a,
    group_b,
    cells: Optional[DataFrame] = None,
    cells_count: Optional[int] = None,
) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic between two
    cohorts of a numeric column: D = max over values of
    |F̂_a(v) − F̂_b(v)| — the distribution-drift test that, unlike
    ``psi_drift``, needs no binning choice.

    Both empirical CDFs are the per-cohort running counts of
    :func:`_rank_cells` over the cohort totals; D and its argmax value
    are exact-integer ratios compared as identical doubles on both
    engines; ties on D resolve to the smallest value.  Output: one
    row (n_a, n_b, d_stat, at_value).

    ``cells``/``cells_count`` optionally inject a :func:`_rank_cells`
    frame (the caller vouches it ranks this operator's own cells of
    ``df``), so the whole two-cohort rank family shares ONE collapse
    per process (r14)."""
    ranked, _, _ = _rank_cells(
        df, group_col, value_col, [group_a, group_b], cells, cells_count
    )
    # the running counts are exact longs (< 2⁵³), so the double casts
    # are value-identical to the oracle's
    d = F.abs(
        F.col("_m0").cast("double") / F.col("_n0").cast("double")
        - F.col("_m1").cast("double") / F.col("_n1").cast("double")
    )
    top = ranked.select("_v", "_n0", "_n1", d.alias("_d")).orderBy(
        F.desc("_d"), F.asc("_v")
    ).limit(1)
    return _finalize_bounded(top.select(
        F.col("_n0").alias("n_a"),
        F.col("_n1").alias("n_b"),
        F.col("_d").alias("d_stat"),
        F.col("_v").cast("double").alias("at_value"),
    ))


def holt_forecast(
    series: DataFrame,
    key_col: str,
    value_col: str,
    alpha: float = 0.5,
    beta: float = 0.25,
    horizon: int = 7,
) -> DataFrame:
    """Holt linear-trend (double exponential smoothing) forecast of an
    ordered series: level/trend recursion

        l_i = α·y_i + (1−α)·(l_{i−1} + b_{i−1})
        b_i = β·(l_i − l_{i−1}) + (1−β)·b_{i−1}

    initialized l₁ = y₁, b₁ = y₂ − y₁, forecast ŷ_{n+h} = l_n + h·b_n.
    The series packs into ONE key-ordered array (calendar-bounded —
    cap-guarded) and the recursion is a single expression fold, so the
    FP operation order is pinned and the forecast is
    engine-reproducible (DuckDB mirror: a recursive CTE stepping the
    identical expressions).  ``alpha``/``beta`` should be dyadic so
    the smoothing products are exact.  Output: (h, forecast) for
    h = 1..``horizon``."""
    a = float(alpha)
    b = float(beta)
    packed = series.agg(
        _capped_packed(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col(key_col).cast("long").alias("_k"),
                        F.col(value_col).cast("double").alias("_v"),
                    )
                )
            ),
            "holt_forecast",
        ).alias("_s")
    ).filter(F.size(F.col("_s")) >= 2)
    l1 = F.element_at(F.col("_s"), 1)["_v"]
    b1 = F.element_at(F.col("_s"), 2)["_v"] - F.element_at(F.col("_s"), 1)["_v"]

    def step(acc, x):
        lnew = F.lit(a) * x["_v"] + F.lit(1.0 - a) * (acc["l"] + acc["b"])
        bnew = (
            F.lit(b)
            * ((F.lit(a) * x["_v"] + F.lit(1.0 - a) * (acc["l"] + acc["b"])) - acc["l"])
            + F.lit(1.0 - b) * acc["b"]
        )
        return F.struct(lnew.alias("l"), bnew.alias("b"))

    fitted = packed.select(
        F.aggregate(
            F.slice(F.col("_s"), 2, F.size(F.col("_s")) - 1),
            F.struct(l1.alias("l"), b1.alias("b")),
            step,
        ).alias("_f")
    )
    return fitted.select(
        F.explode(F.sequence(F.lit(1), F.lit(int(horizon)))).alias("h"),
        F.col("_f.l").alias("_l"),
        F.col("_f.b").alias("_b"),
    ).select(
        "h",
        (F.col("_l") + F.col("h").cast("double") * F.col("_b")).alias("forecast"),
    ).orderBy("h")


def mann_whitney_u(
    df: DataFrame,
    group_col,
    value_col: str,
    group_a,
    group_b,
    cells: Optional[DataFrame] = None,
    cells_count: Optional[int] = None,
) -> DataFrame:
    """Exact Mann-Whitney U (Wilcoxon rank-sum) between two cohorts
    with midrank ties and the normal approximation's tie-corrected
    z — the non-parametric twin of :func:`welch_ttest`.

    The doubled rank sum 2·R_a = Σ c_a·r2 over :func:`_rank_cells`
    and the tie term Σ(t³−t) aggregate as exact decimals; only the
    final U/z are doubles, from identical expressions on both engines.
    Output: one row (n_a, n_b, u_stat, z).

    ``cells``/``cells_count``: see :func:`ks_test` — the shared
    two-cohort collapse injection (r14)."""
    ranked, _, _ = _rank_cells(
        df, group_col, value_col, [group_a, group_b], cells, cells_count
    )
    # ONE decimal product where Σ exceeds int64
    two_ra_term = F.col("_c0").cast("decimal(16,0)") * F.col("_r2").cast("decimal(20,0)")
    # cube at (12,0): 12+12+1=25 then 25+12+1=38 — exactly the cap, no
    # precision adjustment on either engine (tie groups ≤ 1e12 rows)
    cnt12 = F.col("_t").cast("decimal(12,0)")
    tie_term = (cnt12 * cnt12 * cnt12 - cnt12).cast("decimal(38,0)")
    sums = ranked.agg(
        F.sum("_c0").cast("long").alias("_na"),
        F.sum("_c1").cast("long").alias("_nb"),
        F.sum(two_ra_term.cast("decimal(38,0)")).alias("_s2ra"),
        F.sum(tie_term).alias("_ties"),
    )
    na = F.col("_na").cast("double")
    nb = F.col("_nb").cast("double")
    n = na + nb
    u = F.col("_s2ra").cast("double") / F.lit(2.0) - na * (na + F.lit(1.0)) / F.lit(2.0)
    mu = na * nb / F.lit(2.0)
    sigma2 = (
        na * nb / F.lit(12.0)
        * ((n + F.lit(1.0)) - F.col("_ties").cast("double") / (n * (n - F.lit(1.0))))
    )
    return _finalize_bounded(sums.select(
        F.col("_na").alias("n_a"),
        F.col("_nb").alias("n_b"),
        u.alias("u_stat"),
        F.when(sigma2 > 0, (u - mu) / F.sqrt(sigma2)).alias("z"),
    ))


def changepoint(
    series: DataFrame,
    key_col: str,
    value_col: str,
) -> DataFrame:
    """Offline single-changepoint detection on an ordered series: the
    split k maximizing the between-segment sum of squares

        R(k) = S₁²/k + (S−S₁)²/(n−k) − S²/n

    (equivalently the k-means-style variance reduction of a binary
    split; the offline complement of the streaming ``cusum``).

    Prefix sums come from ``plans.scale.global_row_number``'s
    range-bucketed two-phase cumulative (exact decimal — no
    unpartitioned window); R(k) is a closed-form double per row over
    exact sums, and the argmax is a ``TakeOrdered`` with the key as
    tiebreak.  Output: one row (n, split_key, reduction, mean_left,
    mean_right) — the split is BETWEEN ``split_key`` and the next
    key."""
    from csp_gateway_spark.plans.scale import global_row_number

    base = series.select(
        F.col(key_col).alias("_k"),
        F.col(value_col).cast("decimal(18,2)").alias("_y"),
    )
    ranked = global_row_number(
        base, "_k", [], rn_col="_rn", cum_value="_y", cum_col="_cum",
        small_threshold=TARGET_ROWS_PER_BUCKET,
    )
    totals = base.agg(
        F.sum("_y").alias("_S"), F.count(F.lit(1)).alias("_n")
    )
    j = ranked.crossJoin(F.broadcast(totals)).filter(
        F.col("_rn") < F.col("_n")
    )
    k = F.col("_rn").cast("double")
    n = F.col("_n").cast("double")
    s1 = F.col("_cum").cast("double")
    s = F.col("_S").cast("double")
    red = s1 * s1 / k + (s - s1) * (s - s1) / (n - k) - s * s / n
    scored = j.select(
        "_k",
        F.col("_n").alias("n"),
        red.alias("_red"),
        (s1 / k).alias("_ml"),
        ((s - s1) / (n - k)).alias("_mr"),
    )
    top = scored.orderBy(F.desc("_red"), F.asc("_k")).limit(1)
    return top.select(
        "n",
        F.col("_k").cast("long").alias("split_key"),
        F.col("_red").alias("reduction"),
        F.col("_ml").alias("mean_left"),
        F.col("_mr").alias("mean_right"),
    )


def kruskal_wallis(
    df: DataFrame,
    group_col,
    value_col: str,
    groups: Sequence,
) -> DataFrame:
    """Kruskal-Wallis H test across k cohorts of a numeric column —
    the k-sample generalization of ``mann_whitney_u`` (one-way ANOVA
    on midranks; reference parity: the rank-based hypothesis tests the
    gateway's perspective layer exposes over state tables).

    Each per-group rank sum accumulates the EXACT integer
    2·R_g = Σ c_g·r2 over :func:`_rank_cells` in decimal(38,0); no FP
    accumulates across rows.  Ties correct H by
    C = 1 − Σ(t³−t)/(N³−N) with the cubes exact in decimal (same
    (12,0)³ headroom contract as ``mann_whitney_u``).  Output one row
    per group: (grp, n_g, mean_rank, h, h_adj) with the shared
    statistic repeated."""
    ks = list(groups)
    ranked, _, _ = _rank_cells(df, group_col, value_col, ks)
    two_mid = F.col("_r2").cast("decimal(20,0)")
    aggs = []
    for i in range(len(ks)):
        aggs.append(F.sum(F.col(f"_c{i}")).alias(f"_n{i}"))
        aggs.append(
            F.sum(
                (F.col(f"_c{i}").cast("decimal(16,0)") * two_mid).cast(
                    "decimal(38,0)"
                )
            ).alias(f"_r2{i}")
        )
    ct12 = F.col("_t").cast("decimal(12,0)")
    aggs.append(
        F.sum((ct12 * ct12 * ct12 - ct12).cast("decimal(38,0)")).alias("_ties")
    )
    sums = ranked.agg(*aggs)
    nd = [F.col(f"_n{i}").cast("double") for i in range(len(ks))]
    rg = [F.col(f"_r2{i}").cast("double") / F.lit(2.0) for i in range(len(ks))]
    n = nd[0]
    for t in nd[1:]:
        n = n + t
    rank_ss = rg[0] * rg[0] / nd[0]
    for i in range(1, len(ks)):
        rank_ss = rank_ss + rg[i] * rg[i] / nd[i]
    h = F.lit(12.0) / (n * (n + F.lit(1.0))) * rank_ss - F.lit(3.0) * (
        n + F.lit(1.0)
    )
    c = F.lit(1.0) - F.col("_ties").cast("double") / (n * n * n - n)
    h_adj = F.when(c > 0, h / c)
    out = sums.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(str(gr)).alias("grp"),
                        F.col(f"_n{i}").alias("n_g"),
                        (rg[i] / nd[i]).alias("mean_rank"),
                        h.alias("h"),
                        h_adj.alias("h_adj"),
                    )
                    for i, gr in enumerate(ks)
                ]
            )
        ).alias("_e")
    )
    return out.select(
        "_e.grp", "_e.n_g", "_e.mean_rank", "_e.h", "_e.h_adj"
    ).orderBy("grp")


def logrank_test(
    df: DataFrame,
    group_col,
    duration_col,
    censored_col,
    group_a,
    group_b,
) -> DataFrame:
    """Two-group log-rank test on right-censored integer durations —
    the hypothesis-test companion of ``kaplan_meier``/``nelson_aalen``
    (does cohort A's survival curve differ from B's?).

    Durations collapse to one row per distinct value with per-group
    death/total counts (one hash aggregate); BOTH at-risk series come
    from ONE two-phase cumulative carrying the two group totals as
    plain LONG running counts (round 14 — the former packed
    decimal(38,0) word paid BigDecimal pmod/divide per row to
    unpack).  Per event time: E₁ = d·r₁/r and the
    hypergeometric variance v = d·(r₁/r)·(r₂/r)·(r−d)/(r−1); the two
    double sums are order-sensitive, so they fold the duration-sorted
    packed step array (bounded: distinct durations) with pinned FP
    order.  χ² = (O₁−E₁)²/V.  Output: one row (n_a, n_b, o_a, e_a,
    chi2)."""
    from csp_gateway_spark.plans.scale import global_row_number

    g = F.col(group_col) if isinstance(group_col, str) else group_col
    dur = F.col(duration_col) if isinstance(duration_col, str) else duration_col
    cen = F.col(censored_col) if isinstance(censored_col, str) else censored_col
    base = df.filter(g.isin([group_a, group_b])).select(
        dur.cast("long").alias("_t"),
        (g == group_a).cast("int").alias("_ga"),
        cen.cast("int").alias("_c"),
    )
    steps = base.groupBy("_t").agg(
        F.sum(((F.col("_ga") == 1) & (F.col("_c") == 0)).cast("long")).alias("_d1"),
        F.sum(((F.col("_ga") == 0) & (F.col("_c") == 0)).cast("long")).alias("_d2"),
        F.sum(F.col("_ga").cast("long")).alias("_n1"),
        F.sum((1 - F.col("_ga")).cast("long")).alias("_n2"),
    )
    ranked = global_row_number(
        steps, "_t", [], rn_col="_rn",
        cum_values=[("_n1", "_m1"), ("_n2", "_m2")],
        small_threshold=TARGET_ROWS_PER_BUCKET,
    )
    # totals from the RANKED frame (checkpointed inside
    # global_row_number) — aggregating ``steps`` again would re-run
    # the whole scan+collapse a second time (the r10 ks_test
    # regression, fixed here round 14)
    totals = ranked.agg(
        F.sum("_n1").alias("_ta"),
        F.sum("_n2").alias("_tb"),
    )
    j = ranked.crossJoin(F.broadcast(totals))
    # at-risk INCLUDES the current time's subjects: N − (cum − n)
    r1 = (F.col("_ta") - (F.col("_m1") - F.col("_n1"))).alias("_r1")
    r2 = (F.col("_tb") - (F.col("_m2") - F.col("_n2"))).alias("_r2")
    with_risk = j.select("_t", "_d1", "_d2", "_ta", "_tb", r1, r2)
    d = (F.col("_d1") + F.col("_d2")).cast("double")
    r1d = F.col("_r1").cast("double")
    r2d = F.col("_r2").cast("double")
    rd = (F.col("_r1") + F.col("_r2")).cast("double")
    e1 = d * r1d / rd
    var = F.when(
        F.col("_r1") + F.col("_r2") > 1,
        d * (r1d / rd) * (r2d / rd) * ((rd - d) / (rd - F.lit(1.0))),
    ).otherwise(F.lit(0.0))
    terms = with_risk.select(
        "_t", "_d1", "_ta", "_tb", e1.alias("_e1"), var.alias("_v")
    )
    # ONE aggregate carries the fold array AND the totals (constant on
    # every row after the broadcast) — no second crossJoin of the same
    # 1-row frame, which would self-join-ambiguate its attributes
    packed = terms.agg(
        _capped_packed(
            F.array_sort(F.collect_list(F.struct("_t", "_e1", "_v"))),
            "logrank_test",
        ).alias("_z"),
        F.max("_ta").alias("_tas"),
        F.max("_tb").alias("_tbs"),
        F.sum("_d1").alias("_O1s"),
    )
    e_sum = F.aggregate(
        F.transform(F.col("_z"), lambda x: x["_e1"]), F.lit(0.0), lambda a, x: a + x
    )
    v_sum = F.aggregate(
        F.transform(F.col("_z"), lambda x: x["_v"]), F.lit(0.0), lambda a, x: a + x
    )
    fin = packed.select(
        F.col("_tas").alias("n_a"),
        F.col("_tbs").alias("n_b"),
        F.col("_O1s").alias("o_a"),
        e_sum.alias("e_a"),
        v_sum.alias("_vs"),
    )
    o1d = F.col("o_a").cast("double")
    chi = F.when(
        F.col("_vs") > 0,
        (o1d - F.col("e_a")) * (o1d - F.col("e_a")) / F.col("_vs"),
    )
    return fin.select("n_a", "n_b", "o_a", "e_a", chi.alias("chi2"))


def runs_test(
    series: DataFrame,
    key_col: str,
    value_col: str,
) -> DataFrame:
    """Wald-Wolfowitz runs test for randomness of an ordered series
    around its median: too FEW sign runs means trending/clustered,
    too MANY means oscillating — the classic sanity check on a daily
    metric before fitting any trend model.

    The series is calendar-bounded, so it packs into ONE key-ordered
    array (cap-guarded); the median comes from a value-sorted twin of
    the same array with the two middle elements summed EXACTLY in
    decimal (compare 2·v against m₂ — no halving, no FP).  Ties at
    the median drop (standard treatment); runs count is an integer
    fold over adjacent sign pairs.  z uses μ = 2n₊n₋/n + 1 and
    σ² = (μ−1)(μ−2)/(n−1), exact integers until the final doubles.
    Output: one row (n_pos, n_neg, runs, z)."""
    from csp_gateway_spark.plans.scale import global_row_number

    base = series.select(
        F.col(key_col).cast("long").alias("_k"),
        F.col(value_col).cast("decimal(18,2)").alias("_y"),
    )
    # the median comes from the DISTRIBUTED two-phase rank, not from
    # sorting inside the packed row: an array-median expression would
    # get CollapseProject-inlined into the per-element sign lambdas
    # and re-sort per element (measured O(n³) blowup); as a broadcast
    # join attribute it is evaluated once and cannot be inlined
    ranked = global_row_number(
        base, "_y", ["_k"], rn_col="_rn",
        small_threshold=TARGET_ROWS_PER_BUCKET,
    )
    i1 = F.floor((F.col("_n_total") + 1) / 2).cast("long")
    i2 = F.floor((F.col("_n_total") + 2) / 2).cast("long")
    hits = (F.col("_rn") == i1).cast("int") + (F.col("_rn") == i2).cast("int")
    med = ranked.agg(
        F.sum(hits * F.col("_y")).cast("decimal(20,2)").alias("_m2")
    )
    arr = base.agg(
        _capped_packed(
            F.array_sort(F.collect_list(F.struct("_k", "_y"))),
            "runs_test",
        ).alias("_s")
    ).filter(F.size(F.col("_s")) >= 3)
    s_signs = arr.crossJoin(F.broadcast(med)).select(
        F.transform(
            F.filter(
                F.col("_s"),
                lambda x: (x["_y"] * 2).cast("decimal(20,2)") != F.col("_m2"),
            ),
            lambda x: ((x["_y"] * 2).cast("decimal(20,2)") > F.col("_m2")).cast(
                "int"
            ),
        ).alias("_sg")
    )
    signs = F.col("_sg")
    n_pos = F.aggregate(signs, F.lit(0).cast("long"), lambda a, x: a + x)
    n_tot = F.size(signs).cast("long")
    trans = F.zip_with(
        F.slice(signs, 1, F.size(signs) - 1),
        F.slice(signs, 2, F.size(signs) - 1),
        lambda a, b: (a != b).cast("int"),
    )
    runs = F.lit(1).cast("long") + F.aggregate(
        trans, F.lit(0).cast("long"), lambda a, x: a + x
    )
    scored = s_signs.select(
        n_pos.alias("n_pos"),
        (n_tot - n_pos).alias("n_neg"),
        runs.alias("runs"),
    ).filter((F.col("n_pos") > 0) & (F.col("n_neg") > 0))
    npd = F.col("n_pos").cast("double")
    nnd = F.col("n_neg").cast("double")
    nd = npd + nnd
    mu = F.lit(2.0) * npd * nnd / nd + F.lit(1.0)
    sig2 = (mu - F.lit(1.0)) * (mu - F.lit(2.0)) / (nd - F.lit(1.0))
    z = F.when(sig2 > 0, (F.col("runs").cast("double") - mu) / F.sqrt(sig2))
    return scored.select("n_pos", "n_neg", "runs", z.alias("z"))


def max_drawdown(
    series: DataFrame,
    key_col: str,
    value_col: str,
) -> DataFrame:
    """Maximum peak-to-trough drawdown of an ordered series: the
    largest decline from any running peak, max_i (max_{j≤i} y_j −
    y_i), with the day it bottoms — the standard worst-decline metric
    on a daily level series.

    The series is calendar-bounded, so it packs into ONE key-ordered
    array (cap-guarded); every value stays EXACT decimal(18,2) —
    running peaks are decimal array_max over prefixes and the deficit
    is decimal subtraction, so the argmax is engine-exact with the
    key as tiebreak (no FP compare anywhere).  O(n²) prefix scans run
    as expressions over the single packed row — the bounded-key
    contract shared with ``kaplan_meier``.  Output: one row (n,
    trough_key, peak, trough, drawdown)."""
    arr = series.agg(
        _capped_packed(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col(key_col).cast("long").alias("_k"),
                        F.col(value_col).cast("decimal(18,2)").alias("_y"),
                    )
                )
            ),
            "max_drawdown",
        ).alias("_s")
    ).filter(F.size(F.col("_s")) >= 1)
    idx = F.sequence(F.lit(1), F.size(F.col("_s")))
    stepped = arr.select(
        F.col("_s"),
        F.transform(
            idx,
            lambda i: F.array_max(
                F.transform(F.slice(F.col("_s"), 1, i), lambda x: x["_y"])
            ),
        ).alias("_peaks"),
    )
    rows = stepped.select(
        F.size(F.col("_s")).cast("long").alias("n"),
        F.posexplode(
            F.zip_with(
                F.col("_s"),
                F.col("_peaks"),
                lambda s, p: F.struct(
                    s["_k"].alias("k"),
                    p.alias("peak"),
                    s["_y"].alias("trough"),
                    (p - s["_y"]).cast("decimal(19,2)").alias("dd"),
                ),
            )
        ).alias("_i", "_r"),
    )
    top = rows.orderBy(F.desc("_r.dd"), F.asc("_r.k")).limit(1)
    return top.select(
        "n",
        F.col("_r.k").alias("trough_key"),
        F.col("_r.peak").cast("double").alias("peak"),
        F.col("_r.trough").cast("double").alias("trough"),
        F.col("_r.dd").cast("double").alias("drawdown"),
    )


def hhi_concentration(
    df: DataFrame,
    group_col,
    member_col,
    value_col: str,
) -> DataFrame:
    """Herfindahl-Hirschman concentration index per group: HHI =
    Σ share_i² over the members of each group — the standard market-
    concentration measure (1/k for k equal members, 1.0 for a
    monopoly).

    Computed WITHOUT materializing shares: HHI = Σr_i² / (Σr_i)²
    with member totals r_i EXACT decimal(18,2) and both sums exact
    (squares at (37,4) under the 38-digit product cap), so each
    group's index is a single double division over exact decimals —
    order-independent, engine-identical.  Two hash aggregates, one
    shuffle each.  Output per group: (grp, members, hhi)."""
    g = F.col(group_col) if isinstance(group_col, str) else group_col
    m = F.col(member_col) if isinstance(member_col, str) else member_col
    per = df.groupBy(g.alias("_g"), m.alias("_m")).agg(
        F.sum(F.col(value_col).cast("decimal(18,2)"))
        .cast("decimal(18,2)")
        .alias("_r")
    )
    agg = per.groupBy("_g").agg(
        F.count(F.lit(1)).alias("members"),
        F.sum("_r").alias("_s1"),
        F.sum((F.col("_r") * F.col("_r")).cast("decimal(38,4)")).alias("_s2"),
    )
    hhi = F.col("_s2").cast("double") / (
        F.col("_s1").cast("double") * F.col("_s1").cast("double")
    )
    return agg.select(
        F.col("_g").alias("grp"), "members", hhi.alias("hhi")
    ).orderBy("grp")


def cramers_v(
    df: DataFrame,
    col_a,
    col_b,
) -> DataFrame:
    """Cramér's V association between two categorical columns — the
    [0,1]-normalized effect size over the χ² contingency statistic,
    V = sqrt(χ² / (n·(min(r,c)−1))).

    One hash aggregate builds the contingency cells; row/column
    totals broadcast back (cell count is bounded by the category
    product); the χ² sum is order-sensitive in doubles, so it folds
    the (a,b)-sorted packed cell array with pinned FP order.  Output:
    one row (n, r, c, chi2, v)."""
    a = F.col(col_a) if isinstance(col_a, str) else col_a
    b = F.col(col_b) if isinstance(col_b, str) else col_b
    cells = df.groupBy(a.alias("_a"), b.alias("_b")).agg(
        F.count(F.lit(1)).alias("_c")
    )
    rt = cells.groupBy("_a").agg(F.sum("_c").alias("_rt"))
    ct = cells.groupBy("_b").agg(F.sum("_c").alias("_ct"))
    tot = cells.agg(F.sum("_c").alias("_n"))
    # χ² runs over the FULL r×c grid — a groupBy alone would drop
    # zero-count cells and understate the statistic; the marginal
    # cross product is bounded by the category product
    grid = rt.crossJoin(F.broadcast(ct))
    j = (
        grid.join(cells, on=["_a", "_b"], how="left")
        .withColumn("_c", F.coalesce(F.col("_c"), F.lit(0).cast("long")))
        .crossJoin(F.broadcast(tot))
    )
    e = (
        F.col("_rt").cast("double")
        * F.col("_ct").cast("double")
        / F.col("_n").cast("double")
    )
    term = (
        (F.col("_c").cast("double") - e) * (F.col("_c").cast("double") - e) / e
    )
    packed = j.select(
        "_a", "_b", "_n", term.alias("_term")
    ).agg(
        _capped_packed(
            F.array_sort(F.collect_list(F.struct("_a", "_b", "_term"))),
            "cramers_v",
        ).alias("_z"),
        F.max("_n").alias("_nn"),
    )
    chi2 = F.aggregate(
        F.transform(F.col("_z"), lambda x: x["_term"]),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    r = F.size(F.array_distinct(F.transform(F.col("_z"), lambda x: x["_a"])))
    c = F.size(F.array_distinct(F.transform(F.col("_z"), lambda x: x["_b"])))
    staged = packed.select(
        F.col("_nn").alias("n"),
        r.cast("long").alias("r"),
        c.cast("long").alias("c"),
        chi2.alias("chi2"),
    )
    v = F.when(
        F.least(F.col("r"), F.col("c")) > 1,
        F.sqrt(
            F.col("chi2")
            / (
                F.col("n").cast("double")
                * (F.least(F.col("r"), F.col("c")).cast("double") - F.lit(1.0))
            )
        ),
    )
    return staged.select("n", "r", "c", "chi2", v.alias("v"))


def rmst(
    df: DataFrame,
    duration_col,
    censored_col,
    tau: int,
) -> DataFrame:
    """Restricted mean survival time at horizon τ: the area under the
    Kaplan-Meier curve on [0, τ] — the censoring-robust 'average
    duration' companion of ``kaplan_meier`` (a plain mean is biased
    the moment anything is censored).

    Reuses the KM estimator, keeps event steps below τ, packs them
    into ONE duration-ordered array (cap-guarded: same bounded-
    duration contract as ``kaplan_meier``) and folds the step
    integral t₁ + Σ S(tᵢ)·(min(tᵢ₊₁,τ)−tᵢ) with pinned FP order.
    Output: one row (tau, steps, rmst)."""
    return rmst_from_steps(
        survival_steps(df, duration_col, censored_col), tau
    )


def rmst_from_steps(step_table: DataFrame, tau: int) -> DataFrame:
    """:func:`rmst` over a precollapsed :func:`survival_steps` table
    — the shared-checkpoint form."""
    km = kaplan_meier_from_steps(step_table)
    steps = km.filter(F.col("t") < F.lit(int(tau))).select("t", "survival")
    packed = steps.agg(
        _capped_packed(
            F.array_sort(F.collect_list(F.struct("t", "survival"))),
            "rmst",
        ).alias("_z")
    ).filter(F.size(F.col("_z")) >= 1)
    ts = F.transform(F.col("_z"), lambda x: x["t"])
    nxt = F.concat(
        F.slice(ts, 2, F.size(ts) - 1),
        F.array(F.lit(int(tau)).cast("long")),
    )
    staged = packed.select("_z", nxt.alias("_nxt"))
    integral = F.aggregate(
        F.zip_with(
            F.col("_z"),
            F.col("_nxt"),
            lambda x, nt: x["survival"] * (nt - x["t"]).cast("double"),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    head = F.element_at(F.col("_z"), 1)["t"].cast("double")
    return staged.select(
        F.lit(int(tau)).alias("tau"),
        F.size(F.col("_z")).cast("long").alias("steps"),
        (head + integral).alias("rmst"),
    )


def quadratic_trend(
    series: DataFrame,
    key_col: str,
    value_col: str,
) -> DataFrame:
    """Quadratic trend fit y = b0 + b1·x + b2·x² by closed-form
    normal equations — the 2-predictor extension of
    ``group_ols_trend`` (is the series accelerating, not just
    rising?).

    ONE scan accumulates the exact moment sums Σx..Σx⁴ (integer
    decimals, each product narrowed under the 38-digit cap) and
    Σy/Σxy/Σx²y (value quantized at (18,2)); the 3×3 system solves by
    Cramer's rule as a single closed-form double expression over the
    exact sums — identical expansion on both engines, no iteration,
    no per-row FP.  Keys must be calendar-bounded (< 10⁹) so x⁴ fits
    the decimal headroom.  Output: one row (n, b0, b1, b2)."""
    x = F.col(key_col).cast("long")
    y = F.col(value_col).cast("decimal(18,2)")
    x9 = x.cast("decimal(9,0)")
    x12 = x.cast("decimal(12,0)")
    xx = (x9 * x9).cast("decimal(18,0)")
    sums = series.agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(x.cast("decimal(18,0)")).alias("_sx"),
        F.sum((x9 * x9).cast("decimal(38,0)")).alias("_sx2"),
        F.sum((x12 * x12 * x12).cast("decimal(38,0)")).alias("_sx3"),
        F.sum((xx * xx).cast("decimal(38,0)")).alias("_sx4"),
        F.sum(y).alias("_sy"),
        F.sum((x.cast("decimal(10,0)") * y).cast("decimal(38,2)")).alias("_sxy"),
        F.sum(((x9 * x9).cast("decimal(14,0)") * y).cast("decimal(38,2)")).alias(
            "_sx2y"
        ),
    )

    def det3(a, b, c, d, e, f, g, h, i):
        return a * (e * i - f * h) - b * (d * i - f * g) + c * (d * h - e * g)

    n = F.col("_n").cast("double")
    sx = F.col("_sx").cast("double")
    sx2 = F.col("_sx2").cast("double")
    sx3 = F.col("_sx3").cast("double")
    sx4 = F.col("_sx4").cast("double")
    sy = F.col("_sy").cast("double")
    sxy = F.col("_sxy").cast("double")
    sx2y = F.col("_sx2y").cast("double")
    dd = det3(n, sx, sx2, sx, sx2, sx3, sx2, sx3, sx4)
    d0 = det3(sy, sx, sx2, sxy, sx2, sx3, sx2y, sx3, sx4)
    d1 = det3(n, sy, sx2, sx, sxy, sx3, sx2, sx2y, sx4)
    d2 = det3(n, sx, sy, sx, sx2, sxy, sx2, sx3, sx2y)
    return sums.select(
        F.col("_n").alias("n"),
        F.when(F.abs(dd) > 0, d0 / dd).alias("b0"),
        F.when(F.abs(dd) > 0, d1 / dd).alias("b1"),
        F.when(F.abs(dd) > 0, d2 / dd).alias("b2"),
    )


def spearman_corr(
    df: DataFrame,
    col_a: str,
    col_b: str,
) -> DataFrame:
    """Spearman rank correlation between two numeric columns — the
    monotone-association twin of ``correlation_matrix`` (Pearson on
    midranks, robust to outliers and nonlinearity).

    BOTH columns collapse first — two COLUMN-PRUNED grouped counts
    (each scan reads exactly one parquet column) unioned into one
    (variable, value, count) cell table whose per-variable counts pack
    into a single decimal(38,0) word (c_a·10¹⁵ + c_b — the
    ``mann_whitney_u`` packing: addition distributes, no carry while
    each cumulative stays < 10¹⁵) so ONE ``global_row_number``
    cumulative ordered by (value, variable) yields both variables'
    midranks — half the rank stages of ranking each column
    separately.  All rank sums Σ2r, Σ(2r)², Σ(2rₐ·2r_b) accumulate
    EXACT integers in decimal(38,0) — midranks are half-integers, so
    doubling keeps every term integral and ρ is one closed-form
    double over exact sums, engine-identical.  Output: one row
    (n, rho)."""
    from csp_gateway_spark.plans.scale import (
        TARGET_ROWS_PER_BUCKET, global_row_number,
    )

    # The whole pipeline (including the intermediate moment collect)
    # runs on the dedicated AQE-off bounded session: every stage is
    # collapse-bounded with known sizes — runtime re-planning buys
    # nothing and its per-stage re-optimization measured ~1 s of the
    # operator's wall clock; the result (one row, partition-invariant
    # exact sums) is unchanged.  The SHARED session's conf is never
    # mutated (the former scoped toggle raced concurrent queries); the
    # returned frame is eagerly checkpointed and rebound to the
    # caller's session.
    from csp_gateway_spark.session import bounded_session, rebind_session, run_bounded

    sess = df.sparkSession
    bs = bounded_session(sess)
    body = _spearman_corr_body(rebind_session(df, bs), col_a, col_b)
    return run_bounded(body, target=sess)


#: fast-path bound: a variable whose distinct-value count is at or
#: below this is "driver-small" — its (value, count) cells collect as
#: bounded driver rows (~1 MB at the bound; the centroid/LR-weights
#: precedent) and its midranks are computed in exact Python ints.  The
#: bound is a HARD guard (limit N+1 probe), never a truncation.
_SPEARMAN_SMALL_CELLS = 65536


def _spearman_corr_body(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    # pairwise-complete observations only: rows where EITHER column is
    # NULL are excluded up front so every moment (the per-variable rank
    # sums AND the equi-joined cross moment, whose NULL keys would
    # silently never match) is computed over the same row set
    base = df.select(F.col(col_a).alias("_va"), F.col(col_b).alias("_vb")).filter(
        F.col("_va").isNotNull() & F.col("_vb").isNotNull()
    )
    # try each side's collapse directly (r14: the former
    # approx_count_distinct sizing pass cost a full scan + collect
    # before any real work; the probe collapse IS comparable work, so
    # probing directly saves one job in the typical bounded-domain
    # case and costs at most one extra collapse when both sides are
    # large — the limit N+1 guard keeps every driver collect bounded)
    for small_col, big_col in (("_va", "_vb"), ("_vb", "_va")):
        out = _spearman_try_fast(base, small_col, big_col)
        if out is not None:
            return out
    return _spearman_corr_generic(base)


def _spearman_try_fast(base: DataFrame, small_col: str, big_col: str):
    """Closed-form-moment spearman when ``small_col`` is driver-small.

    Midrank identities over doubled ranks 2r = 2·cum − c + 1 make the
    per-variable moments closed-form — Σ_rows 2r = n(n+1) always, and
    Σ_rows (2r)² = (2n(n+1)(2n+1) − Σ(c³ − c))/3 (the classical tie
    correction; every term divisible by 3, so exact integers) — so NO
    rank table is ever materialized for the moments.  The small side's
    midranks are exact Python ints over its collected cells; the big
    side needs only ONE cumulative (``global_row_number`` over its
    collapsed cells, 2r_b derived in-line from the running count) with
    the small-rank row sums Σ2rₐ riding the SAME grouped aggregate —
    one broadcast join + one groupBy + one cumulative + one 1-row
    collapse, no checkpointed rank table, no second fact join.  All
    sums are exact decimal integers → ρ is the oracle's double formula
    over correctly-rounded conversions of the same exact integers —
    bit-identical to the rank-table plan.  Returns None when the probe
    overflows the bound (caller falls back to the generic plan)."""
    import math

    from pyspark.sql import types as T

    from csp_gateway_spark.plans.scale import (
        TARGET_ROWS_PER_BUCKET, global_row_number,
    )

    dt = base.schema[small_col].dataType
    if not isinstance(
        dt,
        (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
         T.FloatType, T.DoubleType, T.DecimalType),
    ):
        return None
    cells = (
        base.groupBy(F.col(small_col).alias("_v"))
        .agg(F.count(F.lit(1)).alias("_c"))
        .limit(_SPEARMAN_SMALL_CELLS + 1)
        .collect()
    )
    if len(cells) > _SPEARMAN_SMALL_CELLS:
        return None
    spark = base.sparkSession
    if not cells:
        # aggregate-shaped: empty input yields one (0, NULL) row
        return spark.createDataFrame([(0, None)], "n long, rho double")
    vals = [(r["_v"], int(r["_c"])) for r in cells]
    if any(v != v for v, _ in vals):  # float NaN sorts differently
        return None
    vals.sort(key=lambda t: t[0])
    cum = 0
    small_rows = []
    ssq_small = 0  # Σ_rows (2r)² for the small side, exact int
    for v, c in vals:
        r2 = 2 * cum + c + 1  # doubled midrank of this tie group
        small_rows.append((v, r2))
        ssq_small += c * r2 * r2
        cum += c
    n = cum
    schema = T.StructType(
        [T.StructField(small_col, dt), T.StructField("_rs", T.LongType())]
    )
    m_small = spark.createDataFrame(small_rows, schema)
    # ONE fact pass: small ranks broadcast on, collapse per big value
    # carrying (count, Σ2rₐ); then ONE cumulative over the collapsed
    # cells gives 2r_b in-line — no rank table, no further fact touch
    per_big = (
        base.join(F.broadcast(m_small), on=small_col)
        .groupBy(F.col(big_col).alias("_v"))
        .agg(
            F.count(F.lit(1)).alias("_cd"),
            F.sum(F.col("_rs").cast("decimal(25,0)")).alias("_srs"),
        )
    )
    # count cumulative as a plain LONG (round 14 — the decimal(20,0)
    # cum paid BigDecimal addition per row in the window)
    ranked = global_row_number(
        per_big, "_v", [], rn_col="_rn",
        cum_values=[("_cd", "_cum")],
        small_threshold=TARGET_ROWS_PER_BUCKET,
    )
    rb = (
        F.lit(2) * F.col("_cum") - F.col("_cd") + F.lit(1)
    ).cast("decimal(13,0)")
    c12 = F.col("_cd").cast("decimal(12,0)")
    fin = ranked.agg(
        F.coalesce(
            F.sum((rb * F.col("_srs")).cast("decimal(38,0)")),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("_sab"),
        F.sum((c12 * c12 * c12).cast("decimal(38,0)")).alias("_sc3"),
    ).collect()[0]  # bounded: exactly one row of driver scalars
    sab = int(fin["_sab"])
    sc3 = int(fin["_sc3"])
    # tie-corrected Σ(2r)² for the big side — exact (numerator ≡ 0 mod 3)
    ssq_big = (2 * n * (n + 1) * (2 * n + 1) - (sc3 - n)) // 3
    saa, sbb = (
        (ssq_small, ssq_big) if small_col == "_va" else (ssq_big, ssq_small)
    )
    # ρ in the ORACLE's exact double shape: every factor is a
    # correctly-rounded conversion of the same exact integer both
    # engines hold, and *, -, /, sqrt are IEEE-identical in Python,
    # the JVM, and DuckDB
    n_d = float(n)
    s_d = float(n * (n + 1))  # Σ2r is n(n+1) for BOTH sides, always
    va = n_d * float(saa) - s_d * s_d
    vb = n_d * float(sbb) - s_d * s_d
    rho = (
        (n_d * float(sab) - s_d * s_d) / math.sqrt(va * vb)
        if va * vb > 0
        else None
    )
    return spark.createDataFrame([(n, rho)], "n long, rho double")


def _spearman_corr_generic(base: DataFrame) -> DataFrame:
    from csp_gateway_spark.plans.scale import (
        TARGET_ROWS_PER_BUCKET, global_row_number,
    )

    df = base
    per = (
        base.groupBy(F.col("_va").alias("_v"))
        .agg(F.count(F.lit(1)).alias("_c"))
        .select(F.lit(0).alias("_var"), "_v", "_c")
        .unionByName(
            base.groupBy(F.col("_vb").alias("_v"))
            .agg(F.count(F.lit(1)).alias("_c"))
            .select(F.lit(1).alias("_var"), "_v", "_c")
        )
    )
    # two plain LONG running counts instead of one packed decimal word
    # (round 14 — same values, no BigDecimal pmod/divide unpack)
    packed = per.withColumn(
        "_pa", F.when(F.col("_var") == 0, F.col("_c")).otherwise(F.lit(0)).cast("long")
    ).withColumn(
        "_pb", F.when(F.col("_var") == 1, F.col("_c")).otherwise(F.lit(0)).cast("long")
    )
    ranked = global_row_number(
        packed, "_v", ["_var"], rn_col="_rn",
        cum_values=[("_pa", "_ma"), ("_pb", "_mb")],
        small_threshold=TARGET_ROWS_PER_BUCKET,
    )
    # at a var-a row the a-side cumulative is Σ c_a over values ≤ v
    # (var-b rows contribute 0 to it, and the (value, variable)
    # tiebreak puts the same-value var-b row after); symmetrically
    # for var-b
    part = F.when(F.col("_var") == 0, F.col("_ma")).otherwise(F.col("_mb"))
    two_mid = F.lit(2) * (part - F.col("_c")) + F.col("_c") + F.lit(1)
    # the midrank table is distinct-value-bounded and consumed by BOTH
    # variable branches — one lazy bounded materialization instead of
    # re-running the rank pipeline per branch
    ranks = ranked.select(
        "_var", "_v", two_mid.cast("long").alias("_2r"), F.col("_c")
    ).localCheckpoint(eager=False)
    # every PER-VARIABLE moment (n, Σ2r, Σ(2r)² over ROWS) comes from
    # the rank table alone — Σ_rows f(v) = Σ_cells c·f(v) — so the
    # fact table is touched exactly ONCE more, for the cross moment.
    # ONE collect materializes the checkpoint and returns BOTH the
    # per-side moments and the cell counts (5 bounded driver scalars
    # per side — the centroid/LR-weights precedent): the moments
    # re-enter the final plan as exact literals, and the cell counts
    # pick which rank table is small enough to broadcast.
    r13 = F.col("_2r").cast("decimal(13,0)")
    c13 = F.col("_c").cast("decimal(13,0)")
    mom = {
        r["_var"]: r
        for r in ranks.groupBy("_var")
        .agg(
            F.count(F.lit(1)).alias("_sc"),
            F.sum(F.col("_c").cast("decimal(38,0)")).alias("_nn"),
            F.sum((c13 * r13).cast("decimal(38,0)")).alias("_s"),
            F.sum((c13 * (r13 * r13).cast("decimal(27,0)")).cast("decimal(38,0)")).alias("_ssq"),
        )
        .collect()
    }
    if not mom:
        # aggregate-shaped result: empty input yields ONE row
        # (n=0, rho=NULL), matching `SELECT count(*), corr(...)` in the
        # SQL oracle rather than zero rows
        return df.sparkSession.createDataFrame(
            [(0, None)], "n long, rho double"
        )
    n_int = int(mom[0]["_nn"])
    s1_int, s2_int = int(mom[0]["_s"]), int(mom[1]["_s"])
    saa_int, sbb_int = int(mom[0]["_ssq"]), int(mom[1]["_ssq"])
    # the cross moment Σ2rₐ·2r_b factors through the LOWER-cardinality
    # side: broadcast ITS rank table onto the fact rows (the other
    # side's table can approach row cardinality — broadcasting it, the
    # former plan, is exactly the 100 TB anti-pattern), collapse per
    # big-side value (map-side combined), and resolve the big side's
    # ranks with an equi-join of two distinct-keyed bounded frames.
    # Every sum stays an exact decimal integer, so the factored totals
    # — and ρ — are bit-identical to the row-level aggregation
    # (int→double via Python float() and via the decimal→double cast
    # are both correctly-rounded IEEE conversions of the same exact
    # integer).
    small_var = 0 if mom[0]["_sc"] <= mom[1]["_sc"] else 1
    small_col, big_col = ("_va", "_vb") if small_var == 0 else ("_vb", "_va")
    m_small = ranks.filter(F.col("_var") == small_var).select(
        F.col("_v").alias(small_col), F.col("_2r").alias("_rs")
    )
    m_big = ranks.filter(F.col("_var") == (1 - small_var)).select(
        F.col("_v").alias(big_col), F.col("_2r").alias("_rb")
    )
    per_big = (
        base.join(F.broadcast(m_small), on=small_col)
        .groupBy(big_col)
        .agg(F.sum(F.col("_rs").cast("decimal(25,0)")).alias("_srs"))
    )
    cross = per_big.join(m_big, on=big_col).agg(
        F.coalesce(
            F.sum((F.col("_rb").cast("decimal(13,0)") * F.col("_srs")).cast("decimal(38,0)")),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("_sab")
    )
    n = F.lit(float(n_int))
    s1 = F.lit(float(s1_int))
    s2 = F.lit(float(s2_int))
    cov = n * F.col("_sab").cast("double") - s1 * s2
    va = n * F.lit(float(saa_int)) - s1 * s1
    vb = n * F.lit(float(sbb_int)) - s2 * s2
    rho = F.when(va * vb > 0, cov / F.sqrt(va * vb))
    return cross.select(F.lit(n_int).cast("long").alias("n"), rho.alias("rho"))


def jarque_bera(
    series: DataFrame,
    key_col: str,
    value_col: str,
) -> DataFrame:
    """Jarque-Bera normality test of an ordered series: JB =
    n/6·(S² + (K−3)²/4) from sample skewness S and kurtosis K — the
    standard residual-normality gate before trusting a Gaussian model
    on a daily metric.

    The series is calendar-bounded, so it packs into ONE key-ordered
    array (cap-guarded); the mean divides the EXACT decimal total
    once, and the three central-moment sums fold the array in key
    order with pinned FP shape — both engines execute the identical
    (y−μ) product chains, so the statistic is engine-exact.  Output:
    one row (n, skew, kurt, jb)."""
    packed = series.agg(
        _capped_packed(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col(key_col).cast("long").alias("_k"),
                        F.col(value_col).cast("decimal(18,2)").alias("_y"),
                    )
                )
            ),
            "jarque_bera",
        ).alias("_s"),
        F.sum(F.col(value_col).cast("decimal(18,2)")).alias("_tot"),
    ).filter(F.size(F.col("_s")) >= 3)
    staged = packed.select(
        "_s",
        F.size(F.col("_s")).cast("long").alias("_n"),
        (F.col("_tot").cast("double") / F.size(F.col("_s")).cast("double")).alias(
            "_mu"
        ),
    )

    def fold(term):
        return F.aggregate(
            F.transform(F.col("_s"), term), F.lit(0.0), lambda a, x: a + x
        )

    mu = F.col("_mu")
    m2 = fold(lambda x: (x["_y"].cast("double") - mu) * (x["_y"].cast("double") - mu))
    m3 = fold(
        lambda x: (x["_y"].cast("double") - mu)
        * (x["_y"].cast("double") - mu)
        * (x["_y"].cast("double") - mu)
    )
    m4 = fold(
        lambda x: ((x["_y"].cast("double") - mu) * (x["_y"].cast("double") - mu))
        * ((x["_y"].cast("double") - mu) * (x["_y"].cast("double") - mu))
    )
    moments = staged.select(
        F.col("_n"), m2.alias("_m2"), m3.alias("_m3"), m4.alias("_m4")
    )
    nd = F.col("_n").cast("double")
    v = F.col("_m2") / nd
    skew = (F.col("_m3") / nd) / (v * F.sqrt(v))
    kurt = (F.col("_m4") / nd) / (v * v)
    jb = nd / F.lit(6.0) * (skew * skew + (kurt - F.lit(3.0)) * (kurt - F.lit(3.0)) / F.lit(4.0))
    return moments.filter(F.col("_m2") > 0).select(
        F.col("_n").alias("n"),
        skew.alias("skew"),
        kurt.alias("kurt"),
        jb.alias("jb"),
    )


def grubbs_test(
    series: DataFrame,
    key_col: str,
    value_col: str,
) -> DataFrame:
    """Grubbs outlier statistic on a series: G = max|yᵢ−ȳ|/s with the
    offending key — the classic single-outlier screen on a daily
    metric (the argmax twin of ``mad_outliers``' robust flagging).

    The deviation argmax is EXACT: |n·yᵢ − Σy| in decimal (scaling by
    n clears the mean's division), with the key as tiebreak — no FP
    compare decides the winner; G itself is one closed-form double
    over the exact Σy/Σy² sums.  One aggregate, one broadcast, one
    TakeOrdered.  Output: one row (n, outlier_key, value, g)."""
    base = series.select(
        F.col(key_col).cast("long").alias("_k"),
        F.col(value_col).cast("decimal(18,2)").alias("_y"),
    )
    totals = base.agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("_y").alias("_sv"),
        F.sum((F.col("_y") * F.col("_y")).cast("decimal(38,4)")).alias("_ss"),
    )
    j = base.crossJoin(F.broadcast(totals))
    dev = F.abs(
        (
            F.col("_y") * F.col("_n").cast("decimal(12,0)") - F.col("_sv")
        ).cast("decimal(38,2)")
    )
    top = (
        j.select("_k", "_y", "_n", "_sv", "_ss", dev.alias("_dev"))
        .orderBy(F.desc("_dev"), F.asc("_k"))
        .limit(1)
    )
    n = F.col("_n").cast("double")
    var = (
        n * F.col("_ss").cast("double")
        - F.col("_sv").cast("double") * F.col("_sv").cast("double")
    ) / (n * (n - F.lit(1.0)))
    g = F.when(
        var > 0, (F.col("_dev").cast("double") / n) / F.sqrt(var)
    )
    return top.select(
        F.col("_n").alias("n"),
        F.col("_k").alias("outlier_key"),
        F.col("_y").cast("double").alias("value"),
        g.alias("g"),
    )


def diff_in_diff(
    df: DataFrame,
    treated,
    post,
    value_col: str,
) -> DataFrame:
    """Difference-in-differences estimate over a 2×2 design: DiD =
    (ȳ_treated,post − ȳ_treated,pre) − (ȳ_control,post − ȳ_control,pre)
    — the standard panel causal contrast (did the treated cohort move
    MORE than the secular trend?).

    ``treated``/``post`` are boolean Columns; ONE scan accumulates
    the four cells' exact decimal sums and counts, and every mean and
    the contrast are closed-form doubles over exact sums —
    engine-identical, no sampling, no iteration.  Output: one row
    (n, m_treat_pre, m_treat_post, m_ctrl_pre, m_ctrl_post, did)."""
    t = treated.cast("int")
    p = post.cast("int")
    y = F.col(value_col).cast("decimal(18,2)")

    def cell(ti: int, pi: int, tag: str):
        m = (t == ti) & (p == pi)
        return [
            F.sum(F.when(m, y)).alias(f"_s_{tag}"),
            F.sum(F.when(m, 1).otherwise(0)).cast("long").alias(f"_c_{tag}"),
        ]

    sums = df.agg(
        *cell(1, 0, "tp0"), *cell(1, 1, "tp1"),
        *cell(0, 0, "cp0"), *cell(0, 1, "cp1"),
    )

    def mean(tag: str):
        return F.col(f"_s_{tag}").cast("double") / F.col(f"_c_{tag}").cast(
            "double"
        )

    did = (mean("tp1") - mean("tp0")) - (mean("cp1") - mean("cp0"))
    n = (
        F.col("_c_tp0") + F.col("_c_tp1") + F.col("_c_cp0") + F.col("_c_cp1")
    )
    return sums.select(
        n.alias("n"),
        mean("tp0").alias("m_treat_pre"),
        mean("tp1").alias("m_treat_post"),
        mean("cp0").alias("m_ctrl_pre"),
        mean("cp1").alias("m_ctrl_post"),
        did.alias("did"),
    )


def holt_winters(
    series: DataFrame,
    key_col: str,
    value_col: str,
    period: int = 7,
    alpha: float = 0.5,
    beta: float = 0.25,
    gamma: float = 0.25,
    horizon: int = 7,
) -> DataFrame:
    """Holt-Winters additive seasonal forecast (level/trend/seasonal
    triple exponential smoothing) — the seasonal extension of
    ``holt_forecast`` for daily series with a weekly cycle:

        l_t = α·(y_t − s_{t−m}) + (1−α)·(l_{t−1} + b_{t−1})
        b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}
        s_t = γ·(y_t − l_t) + (1−γ)·s_{t−m}

    initialized from the first two seasons (l₀ = mean of season 1,
    b₀ = (mean₂ − mean₁)/m, s_i = y_i − l₀) with the recursion
    starting at t = m+1; forecast ŷ_{n+h} = l_n + h·b_n +
    s_{n+h−m·⌈…⌉}.  The series packs into ONE key-ordered array
    (calendar-bounded, cap-guarded) and the whole recursion is a
    single expression fold over a (level, trend, seasonal-array)
    struct — FP order pinned, engine-reproducible (DuckDB mirror: a
    recursive CTE stepping identical expressions with a LIST-typed
    seasonal column).  ``alpha``/``beta``/``gamma`` should be dyadic.
    Output: (h, forecast) for h = 1..``horizon``."""
    a = float(alpha)
    b = float(beta)
    g = float(gamma)
    m = int(period)
    packed = series.agg(
        _capped_packed(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col(key_col).cast("long").alias("_k"),
                        F.col(value_col).cast("double").alias("_v"),
                    )
                )
            ),
            "holt_winters",
        ).alias("_s0")
    ).filter(F.size(F.col("_s0")) >= 2 * m)
    # index the series: fold positions drive the seasonal slot t mod m
    staged = packed.select(
        F.zip_with(
            F.col("_s0"),
            F.sequence(F.lit(1), F.size(F.col("_s0"))),
            lambda x, i: F.struct(x["_v"].alias("v"), i.alias("i")),
        ).alias("_s"),
        F.size(F.col("_s0")).alias("_n"),
    )
    arr = F.col("_s")
    sum1 = F.aggregate(
        F.slice(arr, 1, m), F.lit(0.0), lambda acc, x: acc + x["v"]
    )
    sum2 = F.aggregate(
        F.slice(arr, m + 1, m), F.lit(0.0), lambda acc, x: acc + x["v"]
    )
    l0 = sum1 / F.lit(float(m))
    b0 = (sum2 / F.lit(float(m)) - sum1 / F.lit(float(m))) / F.lit(float(m))
    s0 = F.transform(
        F.sequence(F.lit(1), F.lit(m)),
        lambda i: F.element_at(arr, i)["v"] - l0,
    )

    def step(acc, x):
        pos = F.pmod(x["i"] - 1, F.lit(m))
        s_old = F.element_at(acc["s"], (pos + 1).cast("int"))
        lnew = F.lit(a) * (x["v"] - s_old) + F.lit(1.0 - a) * (
            acc["l"] + acc["b"]
        )
        bnew = (
            F.lit(b)
            * (
                (
                    F.lit(a) * (x["v"] - s_old)
                    + F.lit(1.0 - a) * (acc["l"] + acc["b"])
                )
                - acc["l"]
            )
            + F.lit(1.0 - b) * acc["b"]
        )
        snew = F.lit(g) * (
            x["v"]
            - (
                F.lit(a) * (x["v"] - s_old)
                + F.lit(1.0 - a) * (acc["l"] + acc["b"])
            )
        ) + F.lit(1.0 - g) * s_old
        return F.struct(
            lnew.alias("l"),
            bnew.alias("b"),
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda j: F.when(j == pos, snew).otherwise(
                    F.element_at(acc["s"], (j + 1).cast("int"))
                ),
            ).alias("s"),
        )

    fitted = staged.select(
        F.aggregate(
            F.slice(arr, m + 1, F.size(arr) - m),
            F.struct(l0.alias("l"), b0.alias("b"), s0.alias("s")),
            step,
        ).alias("_f"),
        F.col("_n"),
    )
    h = F.explode(F.sequence(F.lit(1), F.lit(int(horizon)))).alias("h")
    rows = fitted.select(h, "_f", "_n")
    season = F.element_at(
        F.col("_f.s"),
        (F.pmod(F.col("_n") + F.col("h") - 1, F.lit(m)) + 1).cast("int"),
    )
    return rows.select(
        "h",
        (
            F.col("_f.l") + F.col("h").cast("double") * F.col("_f.b") + season
        ).alias("forecast"),
    ).orderBy("h")


def topk_overlap(
    df: DataFrame,
    split,
    key_col: str,
    value_col: str,
    k: int = 20,
) -> DataFrame:
    """Rank-stability of a top-k leaderboard across two periods:
    Jaccard overlap of the two top-k member sets plus Spearman's
    footrule (Σ|rank_a − rank_b| over common members) — the churn
    metric for 'did our biggest customers change?'.

    ``split`` is a boolean Column naming the second period.  Each
    period's top-k comes from an exact-decimal TakeOrdered (value
    desc, key asc — no FP compare picks the cut); ranks come from
    posexplode over the k-row packed array, NOT an unpartitioned
    window.  Output: one row (k, n_a, n_b, n_common, jaccard,
    footrule)."""
    p = split.cast("int")
    y = F.col(value_col).cast("decimal(18,2)")

    def top(period: int, rank_alias: str) -> DataFrame:
        per = (
            df.filter(p == period)
            .groupBy(F.col(key_col).alias("_k"))
            .agg(F.sum(y).cast("decimal(18,2)").alias("_r"))
            .orderBy(F.desc("_r"), F.asc("_k"))
            .limit(int(k))
        )
        packed = per.agg(
            F.array_sort(
                F.collect_list(F.struct((F.col("_r") * -1).alias("_nr"), "_k"))
            ).alias("_z")
        )
        return packed.select(
            F.posexplode(F.col("_z")).alias("_i", "_e")
        ).select(
            F.col("_e._k").alias("_k"),
            (F.col("_i") + 1).cast("long").alias(rank_alias),
        )

    ta = top(0, "_rank_a")
    tb = top(1, "_rank_b")
    j = ta.join(tb, on="_k", how="full")
    agg = j.agg(
        F.sum((F.col("_rank_a").isNotNull()).cast("long")).alias("n_a"),
        F.sum((F.col("_rank_b").isNotNull()).cast("long")).alias("n_b"),
        F.sum(
            (F.col("_rank_a").isNotNull() & F.col("_rank_b").isNotNull()).cast(
                "long"
            )
        ).alias("n_common"),
        F.sum(
            F.when(
                F.col("_rank_a").isNotNull() & F.col("_rank_b").isNotNull(),
                F.abs(F.col("_rank_a") - F.col("_rank_b")),
            ).otherwise(0)
        ).cast("long").alias("footrule"),
    )
    jac = F.col("n_common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    ).cast("double")
    return agg.select(
        F.lit(int(k)).alias("k"),
        "n_a",
        "n_b",
        "n_common",
        jac.alias("jaccard"),
        "footrule",
    )


def cuped(
    df: DataFrame,
    user_col: str,
    treated,
    post,
    value_col: str,
) -> DataFrame:
    """CUPED variance-reduced experiment readout: adjust each user's
    post-period metric by their pre-period covariate, y' = y −
    θ·(x − x̄) with θ = cov(x,y)/var(x) — the standard A/B-test
    sensitivity booster (the adjustment removes the pre-existing
    between-user variance that ``ab_test``'s raw contrast pays for).

    ONE per-user aggregate builds exact decimal (x, y) totals
    (pre/post split by the ``post`` Column, cohort by ``treated``);
    one pooled aggregate accumulates Σx/Σy/Σx²/Σxy/Σy² exactly
    ((18,2) products under the 38-digit cap), so θ, both adjusted
    means, and the variance-reduction ratio ρ² are closed-form
    doubles over exact sums — engine-identical.  Output: one row
    (n, theta, m_treat, m_treat_adj, m_ctrl, m_ctrl_adj,
    var_reduction)."""
    y = F.col(value_col).cast("decimal(18,2)")
    zero = F.lit("0").cast("decimal(18,2)")
    per_user = df.groupBy(F.col(user_col).alias("_u")).agg(
        F.max(treated.cast("int")).alias("_t"),
        F.coalesce(F.sum(F.when(~post, y)), zero).cast("decimal(18,2)").alias("_x"),
        F.coalesce(F.sum(F.when(post, y)), zero).cast("decimal(18,2)").alias("_y"),
    )
    x_, y_ = F.col("_x"), F.col("_y")
    s = per_user.agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum((x_ * x_).cast("decimal(38,4)")).alias("_sxx"),
        F.sum((x_ * y_).cast("decimal(38,4)")).alias("_sxy"),
        F.sum((y_ * y_).cast("decimal(38,4)")).alias("_syy"),
        F.sum("_t").cast("long").alias("_nt"),
        F.sum(F.when(F.col("_t") == 1, x_)).alias("_sxt"),
        F.sum(F.when(F.col("_t") == 1, y_)).alias("_syt"),
    )
    n = F.col("_n").cast("double")
    sx = F.col("_sx").cast("double")
    sy = F.col("_sy").cast("double")
    sxx = F.col("_sxx").cast("double")
    sxy = F.col("_sxy").cast("double")
    syy = F.col("_syy").cast("double")
    nt = F.col("_nt").cast("double")
    nc = n - nt
    sxt = F.col("_sxt").cast("double")
    syt = F.col("_syt").cast("double")
    cov = n * sxy - sx * sy
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    theta = F.when(vx > 0, cov / vx)
    m_t = syt / nt
    m_c = (sy - syt) / nc
    adj_t = m_t - theta * (sxt / nt - sx / n)
    adj_c = m_c - theta * ((sx - sxt) / nc - sx / n)
    var_red = F.when((vx > 0) & (vy > 0), cov * cov / (vx * vy))
    return s.select(
        F.col("_n").alias("n"),
        theta.alias("theta"),
        m_t.alias("m_treat"),
        adj_t.alias("m_treat_adj"),
        m_c.alias("m_ctrl"),
        adj_c.alias("m_ctrl_adj"),
        var_red.alias("var_reduction"),
    )


def croston(
    series: DataFrame,
    key_col: str,
    value_col: str,
    alpha: float = 0.5,
) -> DataFrame:
    """Croston's method for INTERMITTENT demand: separate exponential
    smoothing of non-zero demand sizes z and inter-demand intervals p
    (q₁ = 1 by convention), forecast = z/p per period — the standard
    spare-parts/sparse-SKU forecaster where ``holt_forecast`` on the
    zero-riddled series would chase the zeros.

    Non-zero demands pack into ONE key-ordered array (cap-guarded);
    intervals come from a shifted zip and the (z, p) recursion is a
    single expression fold with pinned FP order (DuckDB mirror: a
    recursive CTE stepping identical expressions).  ``alpha`` should
    be dyadic.  Output: one row (n_demands, z, p, forecast)."""
    a = float(alpha)
    packed = series.filter(F.col(value_col) != 0).agg(
        _capped_packed(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col(key_col).cast("long").alias("_k"),
                        F.col(value_col).cast("double").alias("_v"),
                    )
                )
            ),
            "croston",
        ).alias("_s")
    ).filter(F.size(F.col("_s")) >= 2)
    ks = F.transform(F.col("_s"), lambda x: x["_k"])
    gaps = F.concat(
        F.array(F.lit(1).cast("long")),
        F.zip_with(
            F.slice(ks, 2, F.size(ks) - 1),
            F.slice(ks, 1, F.size(ks) - 1),
            lambda cur, prev: cur - prev,
        ),
    )
    staged = packed.select(
        "_s",
        F.zip_with(
            F.col("_s"), gaps, lambda x, q: F.struct(x["_v"].alias("v"), q.alias("q"))
        ).alias("_e"),
    )
    arr = F.col("_e")
    z1 = F.element_at(arr, 1)["v"]
    p1 = F.element_at(arr, 1)["q"].cast("double")

    def step(acc, x):
        znew = F.lit(a) * x["v"] + F.lit(1.0 - a) * acc["z"]
        pnew = F.lit(a) * x["q"].cast("double") + F.lit(1.0 - a) * acc["p"]
        return F.struct(znew.alias("z"), pnew.alias("p"))

    fitted = staged.select(
        F.size(arr).cast("long").alias("n_demands"),
        F.aggregate(
            F.slice(arr, 2, F.size(arr) - 1),
            F.struct(z1.alias("z"), p1.alias("p")),
            step,
        ).alias("_f"),
    )
    return fitted.select(
        "n_demands",
        F.col("_f.z").alias("z"),
        F.col("_f.p").alias("p"),
        (F.col("_f.z") / F.col("_f.p")).alias("forecast"),
    )


def wilcoxon_signed_rank(
    pairs: DataFrame,
    col_a: str,
    col_b: str,
) -> DataFrame:
    """Wilcoxon signed-rank test for PAIRED samples: rank the
    non-zero |dᵢ| = |aᵢ−bᵢ| with midranks, W⁺ = Σ ranks of positive
    differences, z against μ = n(n+1)/4 and the tie-corrected
    σ² = n(n+1)(2n+1)/24 − Σ(t³−t)/48 — the paired twin of
    ``mann_whitney`` (same period last year, same user pre/post).

    Differences stay EXACT decimal (sign and |d| compare exactly);
    |d| collapses to one row per distinct value with (total, positive)
    counts, the total-count cumulative runs ONE range-bucketed
    two-phase pass, and 2·W⁺ accumulates as an exact integer in
    decimal(38,0) (the doubled-midrank trick shared with
    ``kruskal_wallis``).  Output: one row (n, w_plus, z)."""
    from csp_gateway_spark.plans.scale import global_row_number

    a = F.col(col_a).cast("decimal(18,2)")
    b = F.col(col_b).cast("decimal(18,2)")
    d = (a - b).cast("decimal(19,2)")
    base = pairs.select(d.alias("_d")).filter(F.col("_d") != 0)
    per_val = base.groupBy(F.abs(F.col("_d")).alias("_ad")).agg(
        F.count(F.lit(1)).alias("_ct"),
        F.sum((F.col("_d") > 0).cast("long")).alias("_cp"),
    )
    ranked = global_row_number(
        per_val, "_ad", [], rn_col="_rn", cum_value="_ct", cum_col="_cum",
        small_threshold=TARGET_ROWS_PER_BUCKET,
    )
    two_mid = (
        2 * (F.col("_cum") - F.col("_ct")) + F.col("_ct") + 1
    ).cast("decimal(20,0)")
    ct12 = F.col("_ct").cast("decimal(12,0)")
    sums = ranked.agg(
        F.sum("_ct").alias("_n"),
        F.sum(
            (F.col("_cp").cast("decimal(16,0)") * two_mid).cast("decimal(38,0)")
        ).alias("_w2"),
        F.sum((ct12 * ct12 * ct12 - ct12).cast("decimal(38,0)")).alias("_ties"),
    )
    n = F.col("_n").cast("double")
    w_plus = F.col("_w2").cast("double") / F.lit(2.0)
    mu = n * (n + F.lit(1.0)) / F.lit(4.0)
    sig2 = n * (n + F.lit(1.0)) * (F.lit(2.0) * n + F.lit(1.0)) / F.lit(24.0) - F.col(
        "_ties"
    ).cast("double") / F.lit(48.0)
    z = F.when(sig2 > 0, (w_plus - mu) / F.sqrt(sig2))
    return sums.select(
        F.col("_n").alias("n"), w_plus.alias("w_plus"), z.alias("z")
    )


def anova_f(
    df: DataFrame,
    group_col,
    value_col: str,
) -> DataFrame:
    """One-way ANOVA F statistic across the groups of a categorical
    column: F = (SSB/(k−1)) / (SSW/(N−k)) — the parametric k-sample
    companion of ``kruskal_wallis`` (and of ``welch_ttest`` beyond
    two groups; classic equal-variance form).

    ONE grouped scan accumulates each group's exact decimal Σy / Σy² /
    n; the k-bounded between-group sum Σ S_g²/n_g folds the
    group-sorted packed list with pinned FP order, so SSB/SSW/F are
    engine-identical doubles over exact sums.  Output: one row
    (n, k, ssb, ssw, f)."""
    g = F.col(group_col) if isinstance(group_col, str) else group_col
    y = F.col(value_col).cast("decimal(18,2)")
    per = df.groupBy(g.alias("_g")).agg(
        F.count(F.lit(1)).alias("_ng"),
        F.sum(y).cast("decimal(38,2)").alias("_sg"),
        F.sum((y * y).cast("decimal(38,4)")).alias("_ssg"),
    )
    term = (
        F.col("_sg").cast("double")
        * F.col("_sg").cast("double")
        / F.col("_ng").cast("double")
    )
    packed = per.select(
        "_g", "_ng", "_sg", "_ssg", term.alias("_term")
    ).agg(
        _capped_packed(
            F.array_sort(F.collect_list(F.struct("_g", "_term"))), "anova_f"
        ).alias("_z"),
        F.sum("_ng").alias("_n"),
        F.sum("_sg").alias("_s"),
        F.sum("_ssg").alias("_ss"),
        F.count(F.lit(1)).alias("_k"),
    )
    between = F.aggregate(
        F.transform(F.col("_z"), lambda x: x["_term"]),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    n = F.col("_n").cast("double")
    k = F.col("_k").cast("double")
    s = F.col("_s").cast("double")
    ss = F.col("_ss").cast("double")
    staged = packed.select(
        F.col("_n").alias("n"),
        F.col("_k").alias("k"),
        (between - s * s / n).alias("ssb"),
        (ss - between).alias("ssw"),
        (k - F.lit(1.0)).alias("_df1"),
        (n - k).alias("_df2"),
    )
    f = F.when(
        (F.col("_df1") > 0) & (F.col("_df2") > 0) & (F.col("ssw") > 0),
        (F.col("ssb") / F.col("_df1")) / (F.col("ssw") / F.col("_df2")),
    )
    return staged.select("n", "k", "ssb", "ssw", f.alias("f"))


def roc_auc(
    df: DataFrame,
    score_col: str,
    label_col,
) -> DataFrame:
    """Exact ROC-AUC of a score column against a binary label — the
    rank-based classifier-evaluation twin of :func:`mann_whitney_u`
    (AUC = U⁺/(n⁺·n⁻) with midrank ties, the probability a random
    positive outscores a random negative).

    The label (cast to int) splits :func:`_rank_cells` into the
    cohorts 1 and 0; the doubled positive rank sum Σ c⁺·r2 is an
    exact decimal and only the final ratio is a double, from identical
    expressions on both engines.  Output: one row (n_pos, n_neg,
    auc)."""
    y = F.col(label_col) if isinstance(label_col, str) else label_col
    ranked, _, _ = _rank_cells(df, y.cast("int"), score_col, [1, 0])
    two_rp_term = F.col("_c0").cast("decimal(16,0)") * F.col("_r2").cast("decimal(20,0)")
    sums = ranked.agg(
        F.sum("_c0").cast("long").alias("_np"),
        F.sum("_c1").cast("long").alias("_nn"),
        F.sum(two_rp_term.cast("decimal(38,0)")).alias("_s2rp"),
    )
    np_ = F.col("_np").cast("double")
    nn_ = F.col("_nn").cast("double")
    u = (
        F.col("_s2rp").cast("double") / F.lit(2.0)
        - np_ * (np_ + F.lit(1.0)) / F.lit(2.0)
    )
    return sums.select(
        F.col("_np").alias("n_pos"),
        F.col("_nn").alias("n_neg"),
        F.when((np_ > 0) & (nn_ > 0), u / (np_ * nn_)).alias("auc"),
    )


def cohen_kappa(
    df: DataFrame,
    rater_a,
    rater_b,
) -> DataFrame:
    """Cohen's kappa inter-annotator agreement between two categorical
    rating columns (the labeling-QA gate a curation pipeline runs on
    double-annotated samples before trusting a label source).

    Observed agreement p_o and the chance term p_e = Σ_k p_ak·p_bk
    both reduce to exact-integer marginal counts: one scan for n and
    the diagonal, two k-bounded marginal aggregates joined on
    category (broadcast — category domains are small by contract), so
    kappa is a closed-form double over exact integers.  Output: one
    row (n, po, pe, kappa)."""
    a = rater_a if not isinstance(rater_a, str) else F.col(rater_a)
    b = rater_b if not isinstance(rater_b, str) else F.col(rater_b)
    base = df.select(a.alias("_a"), b.alias("_b"))
    tot = base.agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.sum((F.col("_a") == F.col("_b")).cast("long")).alias("_diag"),
    )
    ma = base.groupBy(F.col("_a").alias("_k")).agg(
        F.count(F.lit(1)).cast("long").alias("_ca")
    )
    mb = base.groupBy(F.col("_b").alias("_k")).agg(
        F.count(F.lit(1)).cast("long").alias("_cb")
    )
    # Σ_k c_ak·c_bk exactly in decimal; the join is k-bounded
    cross = ma.join(mb, "_k", "inner").agg(
        F.sum(
            (
                F.col("_ca").cast("decimal(19,0)")
                * F.col("_cb").cast("decimal(19,0)")
            ).cast("decimal(38,0)")
        ).alias("_pe_num")
    )
    j = tot.crossJoin(F.broadcast(cross))
    n = F.col("_n").cast("double")
    po = F.col("_diag").cast("double") / n
    pe = F.col("_pe_num").cast("double") / (n * n)
    return j.select(
        F.col("_n").alias("n"),
        po.alias("po"),
        pe.alias("pe"),
        F.when(pe < 1.0, (po - pe) / (F.lit(1.0) - pe)).alias("kappa"),
    )


def fleiss_kappa(
    df: DataFrame,
    item_col: str,
    rating_col,
) -> DataFrame:
    """Fleiss' kappa for r raters per item over a categorical rating
    (multi-annotator agreement; requires the same rater count per
    item, validated in-plan).

    Everything reduces to exact integers: per-(item, category) cell
    counts n_ik in one hash aggregate, Σ n_ik² per item, category
    totals c_k, and the identities P̄ = (Σ n_ik² − N·r)/(N·r·(r−1)),
    P̄_e = Σ c_k²/(N·r)² — so kappa is one closed-form double over
    exact decimal sums with no FP accumulation anywhere.  Output: one
    row (n_items, n_raters, p_bar, p_e, kappa)."""
    r = rating_col if not isinstance(rating_col, str) else F.col(rating_col)
    cells = df.groupBy(
        F.col(item_col).alias("_i"), r.alias("_k")
    ).agg(F.count(F.lit(1)).cast("long").alias("_nik"))
    per_item = cells.groupBy("_i").agg(
        F.sum("_nik").cast("long").alias("_r"),
        F.sum(
            (
                F.col("_nik").cast("decimal(19,0)")
                * F.col("_nik").cast("decimal(19,0)")
            ).cast("decimal(38,0)")
        ).alias("_sq"),
    )
    items = per_item.agg(
        F.count(F.lit(1)).cast("long").alias("_N"),
        F.min("_r").alias("_rmin"),
        F.max("_r").alias("_rmax"),
        F.sum("_sq").cast("decimal(38,0)").alias("_ssq"),
    )
    cats = cells.groupBy("_k").agg(F.sum("_nik").cast("long").alias("_ck")).agg(
        F.sum(
            (
                F.col("_ck").cast("decimal(19,0)")
                * F.col("_ck").cast("decimal(19,0)")
            ).cast("decimal(38,0)")
        ).alias("_cksq")
    )
    j = items.crossJoin(F.broadcast(cats))
    guard = F.when(
        F.col("_rmin") != F.col("_rmax"),
        F.raise_error(
            F.concat(
                F.lit("fleiss_kappa: unequal rater counts per item ("),
                F.col("_rmin").cast("string"),
                F.lit(".."),
                F.col("_rmax").cast("string"),
                F.lit(") — the statistic requires a fixed r"),
            )
        ),
    ).otherwise(F.col("_rmin"))
    staged = j.select(
        F.col("_N").alias("n_items"),
        guard.cast("long").alias("n_raters"),
        F.col("_ssq"),
        F.col("_cksq"),
    )
    n = F.col("n_items").cast("double")
    rr = F.col("n_raters").cast("double")
    p_bar = (F.col("_ssq").cast("double") - n * rr) / (n * rr * (rr - F.lit(1.0)))
    p_e = F.col("_cksq").cast("double") / (n * rr * n * rr)
    return staged.select(
        "n_items",
        "n_raters",
        p_bar.alias("p_bar"),
        p_e.alias("p_e"),
        F.when(p_e < 1.0, (p_bar - p_e) / (F.lit(1.0) - p_e)).alias("kappa"),
    )


def l_diversity(
    df: DataFrame,
    qi_cols: "list[str]",
    sensitive_col: str,
    l: int = 3,
) -> DataFrame:
    """l-diversity audit (the companion of the k-anonymity check):
    per quasi-identifier group, the group size k and the number of
    DISTINCT sensitive values; groups with fewer than ``l`` distinct
    sensitive values are flagged as re-identification risks.

    One grouped aggregate (count + count distinct — Spark plans the
    distinct as a two-phase partial aggregate, no extra shuffle
    beyond the QI key); output is one row per QI group, so the
    result is bounded by the QI domain."""
    g = df.groupBy(*[F.col(c) for c in qi_cols]).agg(
        F.count(F.lit(1)).cast("long").alias("k_count"),
        F.countDistinct(F.col(sensitive_col)).cast("long").alias("l_distinct"),
    )
    return g.select(
        *qi_cols,
        "k_count",
        "l_distinct",
        (F.col("l_distinct") < F.lit(l)).alias("at_risk"),
    )


def sprt_monitor(
    df: DataFrame,
    day_col,
    success_col,
    p0: float,
    p1: float,
    alpha: float = 0.05,
    beta: float = 0.05,
) -> DataFrame:
    """Wald sequential probability ratio test over a daily Bernoulli
    stream: per day, the cumulative trial/success counts, the
    log-likelihood ratio llr = k·ln(p1/p0) + (t−k)·ln((1−p1)/(1−p0)),
    and the sequential decision against the Wald boundaries
    ln(β/(1−α)) / ln((1−β)/α) — the always-valid monitoring twin of
    the fixed-horizon ``ab_test``.

    Days collapse to one row each (bounded by the calendar domain);
    the two cumulatives ride ONE two-phase cumulative as plain LONG
    columns (``global_row_number(cum_values=...)`` — round 14, no
    packed-decimal unpack, no unpartitioned window),
    so t/k are exact integers and llr is a closed-form double per
    row.  Output: per day (day, t, k, llr, decision)."""
    import math

    from csp_gateway_spark.plans.scale import global_row_number

    d = day_col if not isinstance(day_col, str) else F.col(day_col)
    s = success_col if not isinstance(success_col, str) else F.col(success_col)
    per_day = df.groupBy(d.alias("_d")).agg(
        F.count(F.lit(1)).cast("long").alias("_t"),
        F.sum(s.cast("int")).cast("long").alias("_k"),
    )
    ranked = global_row_number(
        per_day, "_d", [], rn_col="_rn",
        cum_values=[("_t", "_mt"), ("_k", "_mk")],
        small_threshold=TARGET_ROWS_PER_BUCKET,
    )
    cum_k = F.col("_mk")
    cum_t = F.col("_mt")
    c1 = math.log(p1 / p0)
    c0 = math.log((1.0 - p1) / (1.0 - p0))
    lo = math.log(beta / (1.0 - alpha))
    hi = math.log((1.0 - beta) / alpha)
    k_d = cum_k.cast("double")
    t_d = cum_t.cast("double")
    llr = k_d * F.lit(c1) + (t_d - k_d) * F.lit(c0)
    return ranked.select(
        F.col("_d").alias("day"),
        cum_t.cast("long").alias("t"),
        cum_k.cast("long").alias("k"),
        llr.alias("llr"),
        F.when(llr >= F.lit(hi), F.lit("accept_h1"))
        .when(llr <= F.lit(lo), F.lit("accept_h0"))
        .otherwise(F.lit("continue"))
        .alias("decision"),
    )


def _daily_decimal(df: DataFrame, day_col, value_col, scale: int = 2) -> DataFrame:
    """Collapse raw rows to one (day, exact-decimal total) row each —
    the bounded-by-the-calendar series every daily indicator below
    consumes.  One hash aggregate; decimal keeps the total exact so
    downstream closed forms are engine-identical."""
    d = day_col if not isinstance(day_col, str) else F.col(day_col)
    v = F.col(value_col).cast(f"decimal(18,{scale})")
    return df.groupBy(d.alias("_day")).agg(
        F.sum(v).cast("decimal(38,2)").alias("_v")
    )


def bollinger_bands(
    df: DataFrame,
    day_col,
    value_col: str,
    n: int = 20,
    k: float = 2.0,
) -> DataFrame:
    """Bollinger bands over a daily total: n-CALENDAR-day trailing
    mean ± k·std (sample), with a breach flag where the day's value
    exits the band.

    No unpartitioned window anywhere: each day EXPLODES to the n
    anchor days its value contributes to (day+0..day+n−1), and one
    hash aggregate per anchor rebuilds the trailing Σx/Σx²/count —
    a pure equi-shuffle plan whose width is n×|days|, bounded by the
    calendar domain.  Windows are calendar-day (an absent day shrinks
    the count and the row is dropped by the completeness filter), so
    the stats are exact decimals and mean/std/bands are closed-form
    doubles.  Output per complete day: (day, value, mid, std, upper,
    lower, breach∈{up,down,NULL})."""
    daily = _daily_decimal(df, day_col, value_col)
    contrib = daily.select(
        F.explode(F.sequence(F.lit(0), F.lit(n - 1))).alias("_off"),
        "_day",
        "_v",
    ).select(
        F.date_add(F.col("_day"), F.col("_off")).alias("_anchor"),
        # narrow to (18,2) BEFORE squaring: (18,2)×(18,2) = (37,4) ≤ 38
        # digits, so neither engine precision-adjusts the product (ANSI
        # mode raises on a daily total beyond 10^16 instead of silently
        # rounding)
        F.col("_v").cast("decimal(18,2)").alias("_v"),
    )
    rolled = contrib.groupBy("_anchor").agg(
        F.count(F.lit(1)).alias("_cnt"),
        F.sum("_v").cast("decimal(38,2)").alias("_s"),
        F.sum((F.col("_v") * F.col("_v")).cast("decimal(38,4)"))
        .cast("decimal(38,4)")
        .alias("_ss"),
    )
    j = rolled.filter(F.col("_cnt") == n).join(
        daily, rolled["_anchor"] == daily["_day"]
    )
    nn = F.lit(float(n))
    s = F.col("_s").cast("double")
    ss = F.col("_ss").cast("double")
    mean = s / nn
    var = (nn * ss - s * s) / (nn * (nn - F.lit(1.0)))
    std = F.sqrt(F.when(var > 0, var).otherwise(F.lit(0.0)))
    upper = mean + F.lit(k) * std
    lower = mean - F.lit(k) * std
    v = F.col("_v").cast("double")
    return j.select(
        F.col("_day").alias("day"),
        v.alias("value"),
        F.col("_s").alias("wsum"),  # exact decimal window sum (readouts
        # that must avoid terminating-decimal round boundaries derive
        # from this instead of the double mean)
        mean.alias("mid"),
        std.alias("std"),
        upper.alias("upper"),
        lower.alias("lower"),
        F.when(v > upper, F.lit("up"))
        .when(v < lower, F.lit("down"))
        .alias("breach"),
    )


def rsi(
    df: DataFrame,
    day_col,
    value_col: str,
    n: int = 14,
) -> DataFrame:
    """SMA-form relative strength index over a daily total: deltas vs
    the previous CALENDAR day, n-day trailing gain/loss sums, RSI =
    100·Σgain/(Σgain+Σloss), with overbought/oversold flags at 70/30.

    Same shuffle discipline as :func:`bollinger_bands`: the delta is
    a 2-way explode (day d carries +v to anchor d and −v to anchor
    d+1; an incomplete pair means the previous day is absent and the
    delta is dropped), and the trailing sums are an n-way explode +
    one hash aggregate — every join equi, every sum exact decimal.
    Output per complete day: (day, delta, rsi, signal)."""
    daily = _daily_decimal(df, day_col, value_col)
    delta_contrib = daily.select(
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("_off"), F.lit(1).alias("_sign")),
                F.struct(F.lit(1).alias("_off"), F.lit(-1).alias("_sign")),
            )
        ).alias("_e"),
        "_day",
        "_v",
    ).select(
        F.date_add(F.col("_day"), F.col("_e._off")).alias("_dday"),
        (F.col("_e._sign").cast("decimal(2,0)") * F.col("_v"))
        .cast("decimal(38,2)")
        .alias("_sv"),
    )
    deltas = (
        delta_contrib.groupBy("_dday")
        .agg(
            F.count(F.lit(1)).alias("_pc"),
            F.sum("_sv").cast("decimal(38,2)").alias("_delta"),
        )
        .filter(F.col("_pc") == 2)
    )
    zero = F.lit(0).cast("decimal(38,2)")
    gl = deltas.select(
        "_dday",
        "_delta",
        F.greatest(F.col("_delta"), zero).alias("_g"),
        F.greatest(-F.col("_delta"), zero).alias("_l"),
    )
    contrib = gl.select(
        F.explode(F.sequence(F.lit(0), F.lit(n - 1))).alias("_off"),
        "_dday",
        "_g",
        "_l",
    ).select(
        F.date_add(F.col("_dday"), F.col("_off")).alias("_anchor"),
        "_g",
        "_l",
    )
    rolled = contrib.groupBy("_anchor").agg(
        F.count(F.lit(1)).alias("_cnt"),
        F.sum("_g").cast("decimal(38,2)").alias("_sg"),
        F.sum("_l").cast("decimal(38,2)").alias("_sl"),
    )
    j = rolled.filter(F.col("_cnt") == n).join(
        gl, rolled["_anchor"] == gl["_dday"]
    )
    sg = F.col("_sg").cast("double")
    sl = F.col("_sl").cast("double")
    r = F.when(sg + sl > 0, F.lit(100.0) * sg / (sg + sl))
    return j.select(
        F.col("_dday").alias("day"),
        F.col("_delta").cast("double").alias("delta"),
        r.alias("rsi"),
        F.when(r > 70.0, F.lit("overbought"))
        .when(r < 30.0, F.lit("oversold"))
        .alias("signal"),
    )


def realized_volatility(
    df: DataFrame,
    day_col,
    value_col: str,
) -> DataFrame:
    """Monthly realized volatility of a daily total: √Σ r_d² over the
    month's daily log returns r_d = ln(v_d) − ln(v_{d−1}) (consecutive
    CALENDAR days only).

    The return needs just a 2-way explode + pair aggregate (the sum
    of TWO doubles is order-invariant, so ln(v_d) − ln(v_{d−1}) is
    engine-exact); the month's Σr² folds a day-sorted packed array
    (≤31 elements — calendar-bounded) so the double accumulation
    order is pinned.  Output per month: (month, n_ret, vol)."""
    daily = _daily_decimal(df, day_col, value_col)
    contrib = daily.select(
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("_off"), F.lit(1).alias("_sign")),
                F.struct(F.lit(1).alias("_off"), F.lit(-1).alias("_sign")),
            )
        ).alias("_e"),
        "_day",
        "_v",
    ).select(
        F.date_add(F.col("_day"), F.col("_e._off")).alias("_rday"),
        (F.col("_e._sign").cast("double") * F.log(F.col("_v").cast("double")))
        .alias("_lr"),
    )
    rets = (
        contrib.groupBy("_rday")
        .agg(F.count(F.lit(1)).alias("_pc"), F.sum("_lr").alias("_r"))
        .filter(F.col("_pc") == 2)
    )
    monthly = rets.groupBy(
        F.date_trunc("month", F.col("_rday")).cast("date").alias("month")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_ret"),
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_rday", "_r"))),
                lambda x: x["_r"] * x["_r"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("_ssq"),
    )
    return monthly.select(
        "month", "n_ret", F.sqrt(F.col("_ssq")).alias("vol")
    )


def attribution(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    id_col: str,
    type_col: str,
    conversion_type: str,
    window_ns: int,
    max_touches_per_conversion: int = 1000,
) -> DataFrame:
    """Multi-touch marketing attribution: for every conversion event,
    the same-user touch events inside the lookback window share the
    credit — last-touch, first-touch, and linear (1/n each) models in
    one pass.

    The conversion↔touch association is a USER-equi join (the range
    predicate rides along as a join filter — no nested loop) whose
    blowup is bounded by touches-per-window; first/last flags come
    from windows PARTITIONED by conversion id.  Linear credit would
    be an order-dependent double sum, so it aggregates per
    (touch_type, n_touches) first — exact integer counts — and folds
    cnt/n in n order (n is bounded by the window, cap-guarded), so
    the total is engine-identical.  Output per touch type:
    (event_type, touches, last_credit, first_credit, linear_credit).

    ``max_touches_per_conversion`` is the ENFORCED contract bound on
    per-conversion fan-out (the lookback-window blowup is otherwise a
    data-shape assumption — a bot user with 10⁶ touches in the window
    would dominate one conversion's partition): only the most recent
    ``max_touches_per_conversion`` touches inside the window share
    credit; first/linear credit are computed over that capped set.
    The default (1000) is far above organic journeys, so it only
    engages on the adversarial shape it exists to bound."""
    from pyspark.sql import Window

    if max_touches_per_conversion < 1:
        raise ValueError("attribution: max_touches_per_conversion must be >= 1")
    conv = events.filter(F.col(type_col) == conversion_type).select(
        F.col(id_col).alias("_cid"),
        F.col(user_col).alias("_cu"),
        F.col(ts_col).alias("_cts"),
    )
    touch = events.filter(F.col(type_col) != conversion_type).select(
        F.col(user_col).alias("_tu"),
        F.col(ts_col).alias("_tts"),
        F.col(id_col).alias("_tid"),
        F.col(type_col).alias("_ttype"),
    )
    j = conv.join(
        touch,
        (F.col("_cu") == F.col("_tu"))
        & (F.col("_tts") < F.col("_cts"))
        & (F.col("_tts") >= F.col("_cts") - F.lit(window_ns)),
    )
    w_last = Window.partitionBy("_cid").orderBy(
        F.desc("_tts"), F.desc("_tid")
    )
    # cap BEFORE the first/total windows: the recency rank streams
    # through one partitioned sort and the filter bounds every
    # downstream per-conversion partition to the contract size
    capped = j.select(
        "_cid", "_ttype", "_tts", "_tid",
        F.row_number().over(w_last).alias("_rl"),
    ).filter(F.col("_rl") <= F.lit(int(max_touches_per_conversion)))
    w_first = Window.partitionBy("_cid").orderBy(
        F.asc("_tts"), F.asc("_tid")
    )
    r = capped.select(
        "_cid",
        "_ttype",
        "_rl",
        F.row_number().over(w_first).alias("_rf"),
        F.count(F.lit(1)).over(Window.partitionBy("_cid")).alias("_n"),
    )
    agg = r.groupBy("_ttype").agg(
        F.count(F.lit(1)).cast("long").alias("touches"),
        F.sum((F.col("_rl") == 1).cast("long")).alias("last_credit"),
        F.sum((F.col("_rf") == 1).cast("long")).alias("first_credit"),
    )
    lin_cells = r.groupBy("_ttype", "_n").agg(
        F.count(F.lit(1)).cast("long").alias("_cnt")
    )
    lin = lin_cells.groupBy("_ttype").agg(
        F.aggregate(
            F.transform(
                _capped_packed(
                    F.array_sort(F.collect_list(F.struct("_n", "_cnt"))),
                    "attribution",
                ),
                lambda x: x["_cnt"].cast("double") / x["_n"].cast("double"),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("linear_credit")
    )
    return agg.join(lin, "_ttype").select(
        F.col("_ttype").alias("event_type"),
        "touches",
        "last_credit",
        "first_credit",
        "linear_credit",
    )


def info_gain(
    df: DataFrame,
    feature_cols: "list[str]",
    label_col,
) -> DataFrame:
    """Information gain of each categorical feature against a binary
    label — the feature-selection screen before training a quality
    classifier: IG(f) = H(y) − Σ_g (n_g/N)·H(y|g).

    Per feature, ONE (feature, label) hash aggregate yields exact
    integer cell counts; each group's conditional-entropy term is a
    closed-form double over those integers, and the k-bounded sum
    over groups folds a group-sorted packed array (cap-guarded) so
    the accumulation order is pinned.  Output per feature:
    (feature, n_groups, h_label, ig)."""
    y = label_col if not isinstance(label_col, str) else F.col(label_col)
    base = df.select(
        *[F.col(c).cast("string").alias(c) for c in feature_cols],
        y.cast("int").alias("_y"),
    )
    tot = base.agg(
        F.count(F.lit(1)).cast("long").alias("_N"),
        F.sum("_y").cast("long").alias("_P"),
    )

    def _h(p1, n):
        # -Σ p·ln p with 0·ln0 = 0, p in exact-integer ratio form
        frac1 = p1.cast("double") / n.cast("double")
        frac0 = (n - p1).cast("double") / n.cast("double")
        t1 = F.when(p1 > 0, -frac1 * F.log(frac1)).otherwise(F.lit(0.0))
        t0 = F.when(n - p1 > 0, -frac0 * F.log(frac0)).otherwise(F.lit(0.0))
        return t1 + t0

    outs = []
    for c in feature_cols:
        cells = base.groupBy(F.col(c).alias("_g")).agg(
            F.count(F.lit(1)).cast("long").alias("_ng"),
            F.sum("_y").cast("long").alias("_pg"),
        )
        per_g = cells.select(
            "_g",
            "_ng",
            (_h(F.col("_pg"), F.col("_ng"))).alias("_hg"),
        )
        folded = per_g.agg(
            F.count(F.lit(1)).cast("long").alias("n_groups"),
            F.aggregate(
                F.transform(
                    _capped_packed(
                        F.array_sort(
                            F.collect_list(F.struct("_g", "_ng", "_hg"))
                        ),
                        "info_gain",
                    ),
                    lambda x: x["_ng"].cast("double") * x["_hg"],
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("_whg"),
        )
        j = folded.crossJoin(F.broadcast(tot))
        h_label = _h(F.col("_P"), F.col("_N"))
        outs.append(
            j.select(
                F.lit(c).alias("feature"),
                "n_groups",
                h_label.alias("h_label"),
                (h_label - F.col("_whg") / F.col("_N").cast("double")).alias(
                    "ig"
                ),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def isotonic_calibration(
    df: DataFrame,
    score_col: str,
    label_col,
    bins: int = 40,
) -> DataFrame:
    """Isotonic (PAV) calibration of a score against a binary label
    on equal-width score bins: the fitted monotone rate per bin via
    the minimax identity iso_i = max_{j≤i} min_{k≥i} mean(y[j..k]) —
    equivalent to pool-adjacent-violators, but expressible as pure
    (bounded) array expressions.

    Raw rows collapse to ≤``bins`` exact-integer (weight, positives)
    cells in one hash aggregate; the cells pack into ONE row
    (cap-guarded) where prefix sums and the O(bins³) minimax run as
    nested array lambdas over exact integers — engine-identical
    doubles, no per-row Python.  Output per non-empty bin:
    (bin, n, rate, iso_rate)."""
    y = label_col if not isinstance(label_col, str) else F.col(label_col)
    b = F.least(
        F.floor(F.col(score_col) * bins).cast("int"), F.lit(bins - 1)
    )
    cells = df.select(
        F.greatest(b, F.lit(0)).alias("_b"), y.cast("int").alias("_y")
    ).groupBy("_b").agg(
        F.count(F.lit(1)).cast("long").alias("_w"),
        F.sum("_y").cast("long").alias("_s"),
    )
    packed = cells.agg(
        _capped_packed(
            F.array_sort(F.collect_list(F.struct("_b", "_w", "_s"))),
            "isotonic_calibration",
            cap=100_000,
        ).alias("_z")
    )
    z = F.col("_z")
    nb = F.size(z)
    # 1-indexed prefix-sum arrays with a leading 0 sentinel (index 1)
    cw = F.concat(
        F.array(F.lit(0).cast("long")),
        F.transform(
            F.sequence(F.lit(1), nb),
            lambda i: F.aggregate(
                F.slice(z, F.lit(1), i),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x["_w"],
            ),
        ),
    )
    cs = F.concat(
        F.array(F.lit(0).cast("long")),
        F.transform(
            F.sequence(F.lit(1), nb),
            lambda i: F.aggregate(
                F.slice(z, F.lit(1), i),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x["_s"],
            ),
        ),
    )
    staged = packed.select(z.alias("_z"), cw.alias("_cw"), cs.alias("_cs"))
    zc, cwc, csc = F.col("_z"), F.col("_cw"), F.col("_cs")

    def mean_jk(j, k):
        num = F.element_at(csc, k + 1) - F.element_at(csc, j)
        den = F.element_at(cwc, k + 1) - F.element_at(cwc, j)
        return num.cast("double") / den.cast("double")

    iso = F.transform(
        F.sequence(F.lit(1), F.size(zc)),
        lambda i: F.array_max(
            F.transform(
                F.sequence(F.lit(1), i),
                lambda j: F.array_min(
                    F.transform(
                        F.sequence(i, F.size(zc)),
                        lambda k: mean_jk(j, k),
                    )
                ),
            )
        ),
    )
    ex = staged.select(
        F.posexplode(F.arrays_zip(zc, iso.alias("_iso"))).alias("_p", "_e")
    )
    return ex.select(
        F.col("_e._z._b").alias("bin"),
        F.col("_e._z._w").alias("n"),
        (
            F.col("_e._z._s").cast("double")
            / F.col("_e._z._w").cast("double")
        ).alias("rate"),
        F.col("_e._iso").alias("iso_rate"),
    )


def _seq_if(start, stop):
    """``sequence(start, stop)`` that is EMPTY when start > stop —
    Spark's sequence would otherwise generate a DESCENDING range."""
    return F.when(start <= stop, F.sequence(start, stop))


def quantile_normalize(
    df: DataFrame,
    value_col: str,
    group_col: str,
    grid: int = 1000,
) -> DataFrame:
    """Quantile normalization of a numeric column against the GLOBAL
    distribution: each (group, value) maps to the global value at the
    same quantile position, via a ``grid``-point empirical reference
    (the cross-source score-comparability transform a curation
    pipeline applies before thresholding heterogeneous sources).

    Everything is exact-integer arithmetic until the final readout:
    per-group midrank fractions come from a PARTITIONED cumulative
    over the (group, value)-collapsed frame; the grid point is
    ``floor(grid·num/den)`` in pure integer math (no FP rounding
    boundary); and the global distribution collapses to ≤``grid``+1
    (grid_point → value) rows — the per-value global cumulative rides
    ``plans.scale.global_row_number``, each value EXPLODES only to
    the grid points inside its exact cumulative interval, and the
    resulting reference table broadcasts to an equi join.  Output per
    (group, value): (group, value, n, frac, norm_value)."""
    from pyspark.sql import Window

    from csp_gateway_spark.plans.scale import global_row_number

    g = F.col(group_col)
    v = F.col(value_col)
    per_gv = df.groupBy(g.alias("_g"), v.alias("_v")).agg(
        F.count(F.lit(1)).cast("long").alias("_c")
    )
    wcum = (
        Window.partitionBy("_g")
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy("_g")
    t = per_gv.select(
        "_g",
        "_v",
        "_c",
        F.sum("_c").over(wcum).alias("_cum"),
        F.sum("_c").over(wtot).alias("_ng"),
    )
    num = 2 * (F.col("_cum") - F.col("_c")) + F.col("_c") + 1
    den = 2 * F.col("_ng")
    tq = t.select(
        "_g",
        "_v",
        "_c",
        (num.cast("double") / den.cast("double")).alias("_frac"),
        F.expr(f"(CAST({grid} AS BIGINT) * ({'2*(_cum - _c) + _c + 1'})) div (2 * _ng)").alias(
            "_gpt"
        ),
    )
    per_v = df.groupBy(v.alias("_gv")).agg(
        F.count(F.lit(1)).cast("long").alias("_cv")
    )
    ranked = global_row_number(
        per_v, "_gv", [], rn_col="_rn", cum_value="_cv", cum_col="_gcum",
        small_threshold=TARGET_ROWS_PER_BUCKET,
    )
    totals = per_v.agg(F.sum("_cv").cast("long").alias("_N"))
    ref = (
        ranked.select(
            "_gv",
            F.col("_cv").cast("long").alias("_cvl"),
            F.col("_gcum").cast("long").alias("_gcl"),
        )
        .crossJoin(F.broadcast(totals))
        .select(
            "_gv",
            F.explode(_seq_if(
                F.when(
                    F.col("_gcl") - F.col("_cvl") == 0, F.lit(0).cast("long")
                ).otherwise(
                    F.expr(f"(CAST({grid} AS BIGINT) * (_gcl - _cvl)) div _N")
                    + F.lit(1).cast("long")
                ),
                F.expr(f"(CAST({grid} AS BIGINT) * _gcl) div _N"),
            )).alias("_gpt"),
        )
    )
    out = tq.join(F.broadcast(ref), "_gpt")
    return out.select(
        F.col("_g").alias(group_col),
        F.col("_v").alias("value"),
        F.col("_c").alias("n"),
        F.col("_frac").alias("frac"),
        F.col("_gv").alias("norm_value"),
    )


def stl_decompose(
    df: DataFrame,
    day_col,
    value_col: str,
    period: int = 7,
    ma: int = 7,
) -> DataFrame:
    """Additive seasonal-trend decomposition of a daily total (an
    STL-style single pass): trend = centered ``ma``-calendar-day
    moving average, seasonal = per-weekday mean of the detrended
    series re-centered to sum to zero, residual = remainder.

    Scale shape: the centered MA is the same explode-offset + hash
    aggregate as :func:`bollinger_bands` (no unpartitioned window);
    the seasonal means fold day-sorted packed arrays per weekday
    (calendar-bounded, cap-guarded) so every double accumulates in
    pinned order; the ``period``-row seasonal table re-centers via
    one weekday-sorted fold and broadcasts back.  Output per day with
    a complete MA window: (day, value, trend, weekday, seasonal,
    residual)."""
    assert ma % 2 == 1, "centered moving average needs an odd window"
    if int(period) != 7:
        # the seasonal index is the calendar weekday (dayofweek), so
        # only the weekly cycle is implemented — fail loudly rather
        # than silently returning weekday seasonality for period != 7
        raise ValueError(
            f"stl_decompose: period={period} unsupported — the seasonal "
            "index is day-of-week (weekly cycle); only period=7 is "
            "implemented"
        )
    half = ma // 2
    daily = _daily_decimal(df, day_col, value_col)
    contrib = daily.select(
        F.explode(F.sequence(F.lit(-half), F.lit(half))).alias("_off"),
        "_day",
        "_v",
    ).select(F.date_add(F.col("_day"), F.col("_off")).alias("_anchor"), "_v")
    trend = (
        contrib.groupBy("_anchor")
        .agg(
            F.count(F.lit(1)).alias("_cnt"),
            F.sum("_v").cast("decimal(38,2)").alias("_s"),
        )
        .filter(F.col("_cnt") == ma)
        .select(
            "_anchor",
            (F.col("_s").cast("double") / F.lit(float(ma))).alias("_trend"),
        )
    )
    base = daily.join(trend, daily["_day"] == trend["_anchor"]).select(
        "_day",
        F.col("_v").cast("double").alias("_vd"),
        "_trend",
        (F.col("_v").cast("double") - F.col("_trend")).alias("_dt"),
        (F.dayofweek("_day") - F.lit(1)).alias("_wd"),
    )
    per_wd = base.groupBy("_wd").agg(
        F.count(F.lit(1)).alias("_nw"),
        F.aggregate(
            F.transform(
                _capped_packed(
                    F.array_sort(F.collect_list(F.struct("_day", "_dt"))),
                    "stl_decompose",
                ),
                lambda x: x["_dt"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("_sw"),
    )
    raw_seasonal = per_wd.select(
        "_wd", (F.col("_sw") / F.col("_nw").cast("double")).alias("_sj")
    )
    center = raw_seasonal.agg(
        (
            F.aggregate(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_wd", "_sj"))),
                    lambda x: x["_sj"],
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            / F.count(F.lit(1)).cast("double")
        ).alias("_mean_s")
    )
    seasonal = raw_seasonal.crossJoin(F.broadcast(center)).select(
        "_wd", (F.col("_sj") - F.col("_mean_s")).alias("_seasonal")
    )
    out = base.join(F.broadcast(seasonal), "_wd")
    return out.select(
        F.col("_day").alias("day"),
        F.col("_vd").alias("value"),
        F.col("_trend").alias("trend"),
        F.col("_wd").alias("weekday"),
        F.col("_seasonal").alias("seasonal"),
        (F.col("_dt") - F.col("_seasonal")).alias("residual"),
    )


def seasonal_anomaly(
    df: DataFrame,
    day_col,
    value_col: str,
    period: int = 7,
    ma: int = 7,
    threshold: float = 2.5,
) -> DataFrame:
    """Seasonally-adjusted anomaly days: z-score each
    :func:`stl_decompose` residual against the residual distribution
    and keep |z| > ``threshold`` — the calendar-aware upgrade of a
    plain z-test (a Monday dip is not an anomaly if Mondays always
    dip).

    The residual moments fold ONE day-sorted packed array
    (calendar-bounded, cap-guarded) so σ is engine-identical; z is a
    closed form per row.  Output: (day, value, residual, z) for
    anomalous days, day-ordered."""
    dec = stl_decompose(df, day_col, value_col, period=period, ma=ma)
    stats = dec.agg(
        F.count(F.lit(1)).alias("_n"),
        F.aggregate(
            F.transform(
                _capped_packed(
                    F.array_sort(F.collect_list(F.struct("day", "residual"))),
                    "seasonal_anomaly",
                ),
                lambda x: F.struct(
                    x["residual"].alias("r"),
                    (x["residual"] * x["residual"]).alias("r2"),
                ),
            ),
            F.struct(F.lit(0.0).alias("r"), F.lit(0.0).alias("r2")),
            lambda acc, x: F.struct(
                (acc["r"] + x["r"]).alias("r"),
                (acc["r2"] + x["r2"]).alias("r2"),
            ),
        ).alias("_m"),
    ).select(
        "_n",
        (F.col("_m.r") / F.col("_n").cast("double")).alias("_mu"),
        F.sqrt(
            (
                F.col("_m.r2")
                - F.col("_m.r") * F.col("_m.r") / F.col("_n").cast("double")
            )
            / (F.col("_n").cast("double") - F.lit(1.0))
        ).alias("_sd"),
    )
    j = dec.crossJoin(F.broadcast(stats))
    z = (F.col("residual") - F.col("_mu")) / F.col("_sd")
    return j.select(
        "day", "value", "residual", z.alias("z")
    ).filter(F.abs(F.col("z")) > threshold)


def pacf(
    df: DataFrame,
    day_col,
    value_col: str,
    max_lag: int = 7,
) -> DataFrame:
    """Autocorrelation AND partial autocorrelation of a daily total at
    lags 1..``max_lag`` — the Box-Jenkins model-identification pair
    (PACF via the Durbin-Levinson recursion on the ACF).

    Scale shape: ONE equi self-join of the day-collapsed series
    against its k-shifted explode (lag pair sums Σy_t·y_{t+k} and the
    marginals, all exact decimal with (18,2) narrowing before
    products); r_k is then a closed-form double per lag over the
    broadcast full-series moments.  The m-element ACF packs into ONE
    row (m is a query constant) where the Durbin-Levinson fold runs
    as a bounded array recursion — inner sums iterate j ascending on
    both engines, so every φ and PACF value is engine-identical.
    Output per lag: (lag, n_pairs, acf, pacf)."""
    m = int(max_lag)
    daily = _daily_decimal(df, day_col, value_col)
    v18 = F.col("_v").cast("decimal(18,2)")
    left = daily.select(
        F.explode(F.sequence(F.lit(1), F.lit(m))).alias("_k"),
        "_day",
        v18.alias("_vl"),
    ).select(
        F.col("_k"),
        F.expr("date_add(_day, _k)").alias("_jday"),
        "_vl",
    )
    right = daily.select(F.col("_day").alias("_jday"), v18.alias("_vr"))
    lagsums = (
        left.join(right, "_jday")
        .groupBy("_k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("_nk"),
            F.sum("_vl").cast("decimal(38,2)").alias("_sl"),
            F.sum("_vr").cast("decimal(38,2)").alias("_sr"),
            F.sum((F.col("_vl") * F.col("_vr")).cast("decimal(38,4)"))
            .cast("decimal(38,4)")
            .alias("_slr"),
        )
    )
    totals = daily.agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.sum(v18).cast("decimal(38,2)").alias("_s"),
        F.sum((v18 * v18).cast("decimal(38,4)"))
        .cast("decimal(38,4)")
        .alias("_ss"),
    )
    packed = lagsums.crossJoin(F.broadcast(totals))
    ybar = F.col("_s").cast("double") / F.col("_n").cast("double")
    denom = F.col("_ss").cast("double") - F.col("_n").cast("double") * ybar * ybar
    num = (
        F.col("_slr").cast("double")
        - ybar * F.col("_sr").cast("double")
        - ybar * F.col("_sl").cast("double")
        + F.col("_nk").cast("double") * ybar * ybar
    )
    rrows = packed.select(
        "_k", "_nk", (num / denom).alias("_r")
    )
    one = rrows.agg(
        _capped_packed(
            F.array_sort(F.collect_list(F.struct("_k", "_nk", "_r"))),
            "pacf",
            cap=10_000,
        ).alias("_z")
    ).select(
        F.when(
            F.size("_z") == m, F.col("_z")
        ).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(f"pacf: expected {m} lags, got "),
                    F.size("_z").cast("string"),
                    F.lit(" — the series has calendar gaps at some lag"),
                )
            )
        ).alias("_z")
    )
    r = F.transform(F.col("_z"), lambda x: x["_r"])

    def dl(racc):
        # Durbin-Levinson fold: acc = (phi[1..k], pacf[1..k])
        init = F.struct(
            F.array(F.element_at(racc, 1)).alias("phi"),
            F.array(F.element_at(racc, 1)).alias("pacf"),
        )

        def step(acc, k):
            # k is the NEW order (2..m); prior order is k-1
            prior = k - F.lit(1)
            s_num = F.aggregate(
                F.sequence(F.lit(1), prior),
                F.lit(0.0),
                lambda s, j: s
                + F.element_at(acc["phi"], j) * F.element_at(racc, k - j),
            )
            s_den = F.aggregate(
                F.sequence(F.lit(1), prior),
                F.lit(0.0),
                lambda s, j: s
                + F.element_at(acc["phi"], j) * F.element_at(racc, j),
            )
            a = (F.element_at(racc, k) - s_num) / (F.lit(1.0) - s_den)
            newphi = F.concat(
                F.transform(
                    F.sequence(F.lit(1), prior),
                    lambda j: F.element_at(acc["phi"], j)
                    - a * F.element_at(acc["phi"], k - j),
                ),
                F.array(a),
            )
            return F.struct(
                newphi.alias("phi"),
                F.concat(acc["pacf"], F.array(a)).alias("pacf"),
            )

        return F.aggregate(F.sequence(F.lit(2), F.lit(m)), init, step)

    pacf_arr = (
        F.array(F.element_at(r, 1)) if m < 2 else dl(r)["pacf"]
    )  # sequence(2, 1) would generate DESCENDING — skip the fold at m=1
    staged = one.select(F.col("_z"), pacf_arr.alias("_pacf"))
    ex = staged.select(
        F.posexplode(F.col("_z")).alias("_i", "_e"), F.col("_pacf")
    )
    return ex.select(
        F.col("_e._k").alias("lag"),
        F.col("_e._nk").alias("n_pairs"),
        F.col("_e._r").alias("acf"),
        F.element_at(F.col("_pacf"), F.col("_i") + 1).alias("pacf"),
    )


def hill_tail(
    df: DataFrame,
    value_col: str,
    k: int = 100,
) -> DataFrame:
    """Hill estimator of the power-law tail index over the top-``k``
    order statistics: α̂ = [ (1/k)·Σ_{i≤k} (ln x_i − ln x_{k+1}) ]⁻¹
    — the heavy-tail diagnostic beside ``zipf_fit`` (which fits ranks,
    not tails).

    The ONLY global ordering needed is a TakeOrdered top-(k+1)
    (per-partition partial top-k, never a global sort); the k+1
    values pack into one row where the log-excess fold runs in
    descending-value order (pinned FP).  Output: one row
    (k, x_kplus1, hill_alpha)."""
    v = F.col(value_col).cast("double")
    top = (
        df.select(v.alias("_v"))
        .filter(F.col("_v") > 0)
        .orderBy(F.desc("_v"))
        .limit(k + 1)
    )
    raw = F.reverse(F.array_sort(F.collect_list("_v")))
    # element_at(_z, k+1) on a short array silently yields NULL
    # (non-ANSI) — fail loudly like the pacf cardinality guard instead
    # of returning NULL x_kplus1/hill_alpha
    guarded = F.when(
        F.size(raw) >= F.lit(k + 1), raw
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"hill_tail: expected at least {k + 1} positive values, got "),
                F.size(raw).cast("string"),
            )
        )
    )
    packed = top.agg(guarded.alias("_z"))
    xk1 = F.element_at(F.col("_z"), k + 1)
    mean_excess = (
        F.aggregate(
            F.slice(F.col("_z"), 1, k),
            F.lit(0.0),
            lambda acc, x: acc + (F.log(x) - F.log(xk1)),
        )
        / F.lit(float(k))
    )
    return packed.select(
        F.lit(k).cast("long").alias("k"),
        xk1.alias("x_kplus1"),
        (F.lit(1.0) / mean_excess).alias("hill_alpha"),
    )


def expectations_report(df: DataFrame, rules: "dict[str, Column]") -> DataFrame:
    """Data-quality expectations report: evaluate named boolean rules
    (True = pass; NULL counts as a violation) over a frame in ONE
    scan and emit per-rule checked/violation counts + pass rate —
    the contract gate a pipeline runs before publishing a table.
    Referential rules compose upstream (left-join a marker column,
    rule = marker IS NOT NULL).  Output per rule: (rule, checked,
    violations, pass_rate)."""
    names = sorted(rules)
    aggs = [F.count(F.lit(1)).cast("long").alias("_n")]
    for name in names:
        aggs.append(
            F.sum(
                F.when(rules[name], F.lit(0)).otherwise(F.lit(1))
            ).cast("long").alias(f"_viol_{name}")
        )
    one = df.agg(*aggs)
    ex = one.select(
        F.col("_n"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(name).alias("rule"),
                    F.col(f"_viol_{name}").alias("violations"),
                )
                for name in names
            ])
        ).alias("_e"),
    )
    return ex.select(
        F.col("_e.rule").alias("rule"),
        F.col("_n").alias("checked"),
        F.col("_e.violations").alias("violations"),
        (
            (F.col("_n") - F.col("_e.violations")).cast("double")
            / F.col("_n").cast("double")
        ).alias("pass_rate"),
    )


def fdr_bh(
    df: DataFrame,
    key_col: str,
    p_col: str,
    q: float = 0.1,
) -> DataFrame:
    """Benjamini-Hochberg FDR control over a bounded family of tests:
    rank the p-values ascending, find the largest i with
    p_(i) ≤ q·i/m, and reject hypotheses 1..i — the multiple-testing
    correction applied after a per-segment test sweep.

    The family is bounded by the segment domain, so the ranked
    p-values pack into ONE cap-guarded row; the cutoff rank is an
    integer argmax over the packed array and every comparison is an
    exact-rational double — engine-identical.  Output per key:
    (key, p, rank, rejected)."""
    base = df.select(
        F.col(key_col).alias("_k"), F.col(p_col).cast("double").alias("_p")
    )
    packed = base.agg(
        _capped_packed(
            F.array_sort(F.collect_list(F.struct("_p", "_k"))),
            "fdr_bh",
            cap=100_000,
        ).alias("_z")
    )
    m = F.size("_z")
    imax = F.when(
        m > 0,  # sequence(1, 0) would generate DESCENDING on empty input
        F.aggregate(
            F.sequence(F.lit(1), m),
            F.lit(0),
            lambda acc, i: F.when(
                F.element_at(F.col("_z"), i)["_p"]
                <= F.lit(q) * i.cast("double") / m.cast("double"),
                i,
            ).otherwise(acc),
        ),
    ).otherwise(F.lit(0))
    ex = packed.select(
        imax.alias("_imax"), F.posexplode("_z").alias("_i", "_e")
    )
    return ex.select(
        F.col("_e._k").alias(key_col),
        F.col("_e._p").alias("p"),
        (F.col("_i") + 1).cast("long").alias("rank"),
        (F.col("_i") + 1 <= F.col("_imax")).alias("rejected"),
    )


def ar_forecast(
    df: DataFrame,
    day_col,
    value_col: str,
    p: int = 7,
    horizon: int = 7,
) -> DataFrame:
    """AR(p) forecast of a daily total: Yule-Walker coefficients via
    the Durbin-Levinson recursion on the exact-moment ACF (same
    machinery as :func:`pacf`), then an h-step recursive forecast
    from the last ``p`` observed (mean-centered) values —
    ŷ_{t+h} = ȳ + Σ_j φ_j·(y_{t+h−j} − ȳ).

    Everything bounded: the lag moments are ONE equi self-join of the
    day-collapsed series ((18,2)-narrowed exact decimal products);
    φ comes from a p-element array recursion on ONE packed row; the
    tail values are a TakeOrdered top-p; the forecast fold iterates
    ``horizon`` steps with a p-length state array — inner sums run j
    ascending on both engines.  Output per step: (h, forecast)."""
    m = int(p)
    daily = _daily_decimal(df, day_col, value_col)
    v18 = F.col("_v").cast("decimal(18,2)")
    left = daily.select(
        F.explode(F.sequence(F.lit(1), F.lit(m))).alias("_k"),
        "_day",
        v18.alias("_vl"),
    ).select(F.col("_k"), F.expr("date_add(_day, _k)").alias("_jday"), "_vl")
    right = daily.select(F.col("_day").alias("_jday"), v18.alias("_vr"))
    lagsums = (
        left.join(right, "_jday")
        .groupBy("_k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("_nk"),
            F.sum("_vl").cast("decimal(38,2)").alias("_sl"),
            F.sum("_vr").cast("decimal(38,2)").alias("_sr"),
            F.sum(
                (F.col("_vl").cast("decimal(19,2)") * F.col("_vr")).cast(
                    "decimal(38,4)"
                )
            )
            .cast("decimal(38,4)")
            .alias("_slr"),
        )
    )
    totals = daily.agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.sum(v18).cast("decimal(38,2)").alias("_s"),
        F.sum((v18.cast("decimal(19,2)") * v18).cast("decimal(38,4)"))
        .cast("decimal(38,4)")
        .alias("_ss"),
    )
    packed = lagsums.crossJoin(F.broadcast(totals))
    ybar = F.col("_s").cast("double") / F.col("_n").cast("double")
    denom = F.col("_ss").cast("double") - F.col("_n").cast("double") * ybar * ybar
    num = (
        F.col("_slr").cast("double")
        - ybar * F.col("_sr").cast("double")
        - ybar * F.col("_sl").cast("double")
        + F.col("_nk").cast("double") * ybar * ybar
    )
    rrows = packed.select("_k", (num / denom).alias("_r"), "_n", "_s")
    one = rrows.groupBy("_n", "_s").agg(
        _capped_packed(
            F.array_sort(F.collect_list(F.struct("_k", "_r"))), "ar_forecast",
            cap=10_000,
        ).alias("_zr")
    ).select(
        "_n",
        "_s",
        F.when(F.size("_zr") == m, F.col("_zr"))
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit(f"ar_forecast: expected {m} lags, got "),
                    F.size("_zr").cast("string"),
                )
            )
        )
        .alias("_zr"),
    )
    r = F.transform(F.col("_zr"), lambda x: x["_r"])

    def dl_phi(racc):
        init = F.struct(F.array(F.element_at(racc, 1)).alias("phi"))

        def step(acc, k):
            prior = k - F.lit(1)
            s_num = F.aggregate(
                F.sequence(F.lit(1), prior),
                F.lit(0.0),
                lambda s, j: s
                + F.element_at(acc["phi"], j) * F.element_at(racc, k - j),
            )
            s_den = F.aggregate(
                F.sequence(F.lit(1), prior),
                F.lit(0.0),
                lambda s, j: s
                + F.element_at(acc["phi"], j) * F.element_at(racc, j),
            )
            a = (F.element_at(racc, k) - s_num) / (F.lit(1.0) - s_den)
            newphi = F.concat(
                F.transform(
                    F.sequence(F.lit(1), prior),
                    lambda j: F.element_at(acc["phi"], j)
                    - a * F.element_at(acc["phi"], k - j),
                ),
                F.array(a),
            )
            return F.struct(newphi.alias("phi"))

        return F.aggregate(F.sequence(F.lit(2), F.lit(m)), init, step)["phi"]

    phi_arr = (
        F.array(F.element_at(r, 1)) if m < 2 else dl_phi(r)
    )
    # last p observed values, most recent FIRST
    tail = daily.orderBy(F.desc("_day")).limit(m)
    tail_packed = tail.agg(
        F.reverse(
            F.array_sort(F.collect_list(F.struct("_day", v18.alias("_vt"))))
        ).alias("_lv")
    )
    j = one.select(phi_arr.alias("_phi"), "_n", "_s").crossJoin(
        F.broadcast(tail_packed)
    )
    yb = F.col("_s").cast("double") / F.col("_n").cast("double")
    state0 = F.transform(F.col("_lv"), lambda x: x["_vt"].cast("double") - yb)

    def fc_fold(phi, st0):
        init = F.struct(st0.alias("st"), F.array().cast("array<double>").alias("out"))

        def step(acc, _h):
            pred = F.aggregate(
                F.sequence(F.lit(1), F.lit(m)),
                F.lit(0.0),
                lambda s, j: s
                + F.element_at(phi, j) * F.element_at(acc["st"], j),
            )
            return F.struct(
                F.concat(F.array(pred), F.slice(acc["st"], 1, m - 1)).alias("st"),
                F.concat(acc["out"], F.array(pred)).alias("out"),
            )

        return F.aggregate(
            F.sequence(F.lit(1), F.lit(int(horizon))), init, step
        )["out"]

    staged = j.select(fc_fold(F.col("_phi"), state0).alias("_fc"), yb.alias("_yb"))
    ex = staged.select(F.posexplode("_fc").alias("_i", "_pred"), "_yb")
    return ex.select(
        (F.col("_i") + 1).cast("long").alias("h"),
        (F.col("_pred") + F.col("_yb")).alias("forecast"),
    )


def t_closeness(
    df: DataFrame,
    qi_cols: "list[str]",
    sensitive_col: str,
    t: float = 0.2,
) -> DataFrame:
    """t-closeness audit — the third rung of the privacy ladder after
    :func:`k_anonymity` and :func:`l_diversity`: per quasi-identifier
    group, the earth-mover's distance between the group's ORDERED
    sensitive-value distribution and the global one,
    EMD = (1/(m−1))·Σ_k |Σ_{j≤k}(p_j − q_j)|; groups with EMD > ``t``
    leak the sensitive attribute.

    The category domain m is bounded, so the (group × category) grid
    is grid-bounded by construction (built by crossing the group
    totals with the BROADCAST m-row global distribution — zero cells
    included); the cumulative-difference fold runs category-sorted on
    one packed array per group, and every probability is an
    exact-integer ratio.  Output per group: (qi..., k_count, emd,
    violates_t)."""
    qi = [F.col(c) for c in qi_cols]
    cells = df.groupBy(
        *[c.alias(n) for c, n in zip(qi, qi_cols)],
        F.col(sensitive_col).alias("_cat"),
    ).agg(F.count(F.lit(1)).cast("long").alias("_c"))
    gtot = df.groupBy(F.col(sensitive_col).alias("_cat")).agg(
        F.count(F.lit(1)).cast("long").alias("_gc")
    )
    gall = df.agg(F.count(F.lit(1)).cast("long").alias("_N"))
    groups = cells.groupBy(*qi_cols).agg(F.sum("_c").cast("long").alias("k_count"))
    grid = groups.crossJoin(F.broadcast(gtot.crossJoin(gall)))
    filled = grid.join(cells, [*qi_cols, "_cat"], "left").select(
        *qi_cols,
        "k_count",
        "_cat",
        F.coalesce(F.col("_c"), F.lit(0)).cast("long").alias("_c"),
        "_gc",
        "_N",
    )
    per_group = filled.groupBy(*qi_cols, "k_count").agg(
        F.count(F.lit(1)).cast("long").alias("_m"),
        F.aggregate(
            F.transform(
                _capped_packed(
                    F.array_sort(F.collect_list(F.struct("_cat", "_c", "_gc", "_N"))),
                    "t_closeness",
                ),
                lambda x: F.struct(
                    (
                        x["_c"].cast("double") / F.col("k_count").cast("double")
                        - x["_gc"].cast("double") / x["_N"].cast("double")
                    ).alias("d")
                ),
            ),
            F.struct(F.lit(0.0).alias("cum"), F.lit(0.0).alias("s")),
            lambda acc, x: F.struct(
                (acc["cum"] + x["d"]).alias("cum"),
                (acc["s"] + F.abs(acc["cum"] + x["d"])).alias("s"),
            ),
        ).alias("_f"),
    )
    emd = F.when(
        F.col("_m") > 1,
        F.col("_f.s") / (F.col("_m").cast("double") - F.lit(1.0)),
    ).otherwise(F.lit(0.0))
    return per_group.select(
        *qi_cols,
        "k_count",
        emd.alias("emd"),
        (emd > F.lit(t)).alias("violates_t"),
    )


def brier_decomposition(
    df: DataFrame,
    score_col: str,
    label_col,
    bins: int = 20,
) -> DataFrame:
    """Murphy decomposition of the (binned) Brier score of a
    probabilistic classifier: reliability − resolution + uncertainty,
    with forecast bins at fixed equal-width centers — the
    calibration-quality summary beside :func:`isotonic_calibration`
    and the ``calibration`` reliability diagram.

    All three terms are exact-integer arithmetic: per-bin counts and
    positives in one hash aggregate, bin centers are query constants,
    and the ≤``bins`` per-bin terms fold bin-sorted on one packed
    row.  Output: one row (n, reliability, resolution, uncertainty,
    brier_binned)."""
    y = label_col if not isinstance(label_col, str) else F.col(label_col)
    b = F.greatest(
        F.least(F.floor(F.col(score_col) * bins).cast("int"), F.lit(bins - 1)),
        F.lit(0),
    )
    cells = df.select(b.alias("_b"), y.cast("int").alias("_y")).groupBy(
        "_b"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("_w"),
        F.sum("_y").cast("long").alias("_s"),
    )
    tot = df.agg(
        F.count(F.lit(1)).cast("long").alias("_N"),
        F.sum(y.cast("int")).cast("long").alias("_P"),
    )
    j = cells.crossJoin(F.broadcast(tot))
    ybar = F.col("_P").cast("double") / F.col("_N").cast("double")
    center = (F.col("_b").cast("double") + F.lit(0.5)) / F.lit(float(bins))
    rate = F.col("_s").cast("double") / F.col("_w").cast("double")
    terms = j.select(
        "_b",
        "_N",
        "_P",
        (F.col("_w").cast("double") * (rate - center) * (rate - center)).alias(
            "_rel"
        ),
        (F.col("_w").cast("double") * (rate - ybar) * (rate - ybar)).alias(
            "_res"
        ),
    )
    folded = terms.groupBy("_N", "_P").agg(
        F.aggregate(
            F.transform(
                _capped_packed(
                    F.array_sort(F.collect_list(F.struct("_b", "_rel", "_res"))),
                    "brier_decomposition",
                ),
                lambda x: F.struct(x["_rel"].alias("rel"), x["_res"].alias("res")),
            ),
            F.struct(F.lit(0.0).alias("rel"), F.lit(0.0).alias("res")),
            lambda acc, x: F.struct(
                (acc["rel"] + x["rel"]).alias("rel"),
                (acc["res"] + x["res"]).alias("res"),
            ),
        ).alias("_f"),
    )
    n = F.col("_N").cast("double")
    yb = F.col("_P").cast("double") / n
    rel = F.col("_f.rel") / n
    res = F.col("_f.res") / n
    unc = yb * (F.lit(1.0) - yb)
    return folded.select(
        F.col("_N").alias("n"),
        rel.alias("reliability"),
        res.alias("resolution"),
        unc.alias("uncertainty"),
        (rel - res + unc).alias("brier_binned"),
    )


# ---------------------------------------------------------------------------
# WAVE 23 (round 11) — agreement / concordance / distribution-shape tests
# ---------------------------------------------------------------------------


def cronbach_alpha(
    df: DataFrame, item_cols: list, sums: DataFrame | None = None
) -> DataFrame:
    """Cronbach's alpha internal-consistency coefficient over k
    numeric "item" columns: α = k/(k−1) · (1 − Σᵢσ²ᵢ/σ²_T) with T the
    per-row item total — the standard reliability gate before
    averaging several noisy quality signals into one score.

    ONE scan accumulates every moment EXACTLY: per-item Σx, Σx² and
    the total's ΣT, ΣT² in decimal (T is the exact decimal sum of the
    (18,2)-quantized items), so each variance numerator n·Σx² − (Σx)²
    is a double over exact sums; the k-term numerator sum folds
    LEFT-TO-RIGHT in the given column order (both engines run the
    identical association).  Sample-vs-population normalization
    cancels in the ratio.  Output: one row
    (n, k, item_var_sum, total_var, alpha)."""
    k = len(item_cols)
    if k < 2:
        raise ValueError("cronbach_alpha needs >= 2 item columns")
    if sums is not None:
        # pre-built 1-row frame with _n/_s{i}/_q{i}/_st/_qt carrying
        # the exact values the aggregate below would produce
        one = sums.select(
            "_n",
            *[x for i in range(k) for x in (f"_s{i}", f"_q{i}")],
            "_st",
            "_qt",
        )
    else:
        items = [F.col(c).cast("decimal(18,2)") for c in item_cols]
        total = items[0].cast("decimal(25,2)")
        for it in items[1:]:
            total = (total + it).cast("decimal(25,2)")
        aggs = [F.count(F.lit(1)).alias("_n")]
        for i, it in enumerate(items):
            sq = (it.cast("decimal(19,2)") * it.cast("decimal(19,2)")).cast(
                "decimal(38,4)"
            )
            aggs.append(F.sum(it.cast("decimal(38,2)")).alias(f"_s{i}"))
            aggs.append(F.sum(sq).alias(f"_q{i}"))
        tsq = (total.cast("decimal(19,2)") * total.cast("decimal(19,2)")).cast(
            "decimal(38,4)"
        )
        aggs.append(F.sum(total.cast("decimal(38,2)")).alias("_st"))
        aggs.append(F.sum(tsq).alias("_qt"))
        one = df.agg(*aggs)
    n = F.col("_n").cast("double")

    def var_num(s, q):
        return n * F.col(q).cast("double") - F.col(s).cast("double") * F.col(
            s
        ).cast("double")

    item_sum = var_num("_s0", "_q0")
    for i in range(1, k):
        item_sum = item_sum + var_num(f"_s{i}", f"_q{i}")
    total_num = var_num("_st", "_qt")
    denom = n * (n - F.lit(1.0))
    alpha = F.when(
        total_num > 0,
        F.lit(float(k) / (k - 1)) * (F.lit(1.0) - item_sum / total_num),
    )
    return one.select(
        F.col("_n").cast("long").alias("n"),
        F.lit(k).cast("long").alias("k"),
        (item_sum / denom).alias("item_var_sum"),
        (total_num / denom).alias("total_var"),
        alpha.alias("alpha"),
    )


def icc_oneway(df: DataFrame, group_col, value_col: str) -> DataFrame:
    """One-way random-effects intraclass correlation ICC(1): the
    share of variance explained by group membership,
    (MSB − MSW)/(MSB + (n₀−1)·MSW) with n₀ the unbalanced-design
    average group size (N − Σn_g²/N)/(k−1) — the rater-agreement /
    clustering-strength companion of :func:`anova_f`.

    Same exactness discipline as ``anova_f``: one grouped scan of
    exact decimal moments (plus the exact Σn_g² integer), the
    k-bounded Σ S_g²/n_g term folded group-sorted with pinned FP
    order, every downstream quantity one double expression.  Output:
    one row (n, k, msb, msw, n0, icc)."""
    g = F.col(group_col) if isinstance(group_col, str) else group_col
    y = F.col(value_col).cast("decimal(18,2)")
    per = df.groupBy(g.alias("_g")).agg(
        F.count(F.lit(1)).alias("_ng"),
        F.sum(y).cast("decimal(38,2)").alias("_sg"),
        F.sum((y * y).cast("decimal(38,4)")).alias("_ssg"),
    )
    term = (
        F.col("_sg").cast("double")
        * F.col("_sg").cast("double")
        / F.col("_ng").cast("double")
    )
    ng19 = F.col("_ng").cast("decimal(19,0)")
    packed = per.select(
        "_g", "_ng", "_sg", "_ssg", term.alias("_term")
    ).agg(
        _capped_packed(
            F.array_sort(F.collect_list(F.struct("_g", "_term"))), "icc_oneway"
        ).alias("_z"),
        F.sum("_ng").alias("_n"),
        F.sum("_sg").alias("_s"),
        F.sum("_ssg").alias("_ss"),
        F.sum((ng19 * ng19).cast("decimal(38,0)")).alias("_n2"),
        F.count(F.lit(1)).alias("_k"),
    )
    between = F.aggregate(
        F.transform(F.col("_z"), lambda x: x["_term"]),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    n = F.col("_n").cast("double")
    k = F.col("_k").cast("double")
    s = F.col("_s").cast("double")
    ss = F.col("_ss").cast("double")
    staged = packed.select(
        F.col("_n").alias("n"),
        F.col("_k").alias("k"),
        ((between - s * s / n) / (k - F.lit(1.0))).alias("msb"),
        ((ss - between) / (n - k)).alias("msw"),
        ((n - F.col("_n2").cast("double") / n) / (k - F.lit(1.0))).alias("n0"),
    )
    icc = F.when(
        (F.col("msb") + (F.col("n0") - F.lit(1.0)) * F.col("msw")) != 0,
        (F.col("msb") - F.col("msw"))
        / (F.col("msb") + (F.col("n0") - F.lit(1.0)) * F.col("msw")),
    )
    return staged.select("n", "k", "msb", "msw", "n0", icc.alias("icc"))


def friedman_test(
    df: DataFrame,
    block_col,
    treat_col,
    value_col: str,
) -> DataFrame:
    """Friedman rank test for k related treatments over n blocks —
    the within-block (repeated-measures) twin of ``kruskal_wallis``:
    rank the k treatment cells inside each block, then test whether
    the treatment rank sums differ.  Tie-corrected:

        χ² = (k−1)·Σⱼ(2Rⱼ − n(k+1))² / (Σᵢⱼ(2rᵢⱼ)² − n·k·(k+1)²)

    using DOUBLED midranks so every term is an EXACT integer (midranks
    are half-integers; 2r = 2·minrank + t − 1).  Blocks missing any
    treatment are dropped (complete-block design), with k taken over
    the full cell table.  The within-block rank is a window
    partitioned BY BLOCK — k-bounded partitions, never a global sort —
    and every sum is a plain integer aggregate, so the statistic is
    engine-exact up to one final double division.  Output: one row
    (n_blocks, k, chi2, w) with Kendall's W = χ²/(n(k−1))."""
    from pyspark.sql.window import Window

    b = F.col(block_col) if isinstance(block_col, str) else block_col
    t = F.col(treat_col) if isinstance(treat_col, str) else treat_col
    cells = df.groupBy(b.alias("_b"), t.alias("_t")).agg(
        F.sum(F.col(value_col).cast("decimal(18,2)")).alias("_y")
    )
    kk = cells.agg(F.countDistinct("_t").alias("_k"))
    complete = (
        cells.withColumn(
            "_cb", F.count(F.lit(1)).over(Window.partitionBy("_b"))
        )
        .crossJoin(F.broadcast(kk))
        .filter(F.col("_cb") == F.col("_k"))
    )
    wrank = Window.partitionBy("_b").orderBy("_y")
    wties = Window.partitionBy("_b", "_y")
    ranked = complete.select(
        "_b",
        "_t",
        "_k",
        (
            F.lit(2) * F.rank().over(wrank)
            + F.count(F.lit(1)).over(wties)
            - F.lit(1)
        ).cast("long").alias("_2r"),
    )
    r2 = F.col("_2r").cast("decimal(19,0)")
    per_treat = ranked.groupBy("_t").agg(
        F.sum(F.col("_2r").cast("decimal(38,0)")).alias("_rj"),
        F.sum((r2 * r2).cast("decimal(38,0)")).alias("_rsq"),
        F.count(F.lit(1)).alias("_nb"),
        F.max("_k").alias("_k"),
    )
    one = per_treat.agg(
        F.max("_nb").cast("long").alias("_n"),
        F.max("_k").cast("long").alias("_kk"),
        F.sum("_rsq").alias("_a2"),
        # Σⱼ(2Rⱼ − n(k+1))² needs n and k first; carry Σ2Rⱼ² and Σ2Rⱼ
        # moments instead: Σ(R−c)² = ΣR² − 2cΣR + k·c² with c=n(k+1)
        F.sum((F.col("_rj").cast("decimal(19,0)") * F.col("_rj").cast("decimal(19,0)")).cast("decimal(38,0)")).alias("_sr2"),
        F.sum("_rj").alias("_sr"),
    )
    n = F.col("_n").cast("double")
    k = F.col("_kk").cast("double")
    c = n * (k + F.lit(1.0))
    num = (
        F.col("_sr2").cast("double")
        - F.lit(2.0) * c * F.col("_sr").cast("double")
        + k * c * c
    )
    den = F.col("_a2").cast("double") - n * k * (k + F.lit(1.0)) * (
        k + F.lit(1.0)
    )
    chi2 = F.when(den > 0, (k - F.lit(1.0)) * num / den)
    w = F.when(
        (den > 0) & (n > 0) & (k > 1), (k - F.lit(1.0)) * num / den / (n * (k - F.lit(1.0)))
    )
    return one.select(
        F.col("_n").alias("n_blocks"),
        F.col("_kk").alias("k"),
        chi2.alias("chi2"),
        w.alias("w"),
    )


def cochran_q(
    df: DataFrame,
    block_col,
    treat_col,
    x_col,
) -> DataFrame:
    """Cochran's Q test for k related BINARY treatments over n blocks
    (the dichotomous sibling of :func:`friedman_test` — "did the
    success rate differ across the k conditions?"):

        Q = (k−1)·(k·ΣⱼCⱼ² − T²) / (k·T − ΣᵢRᵢ²)

    with Cⱼ the per-treatment success totals, Rᵢ the per-block
    totals, T the grand total.  Duplicate (block, treatment)
    observations OR into one cell.  Everything is integer counting —
    two k-/n-bounded grouped aggregates over the cell table — so Q is
    exact up to the final double division.  Output: one row
    (n_blocks, k, q_stat, df)."""
    b = F.col(block_col) if isinstance(block_col, str) else block_col
    t = F.col(treat_col) if isinstance(treat_col, str) else treat_col
    x = F.col(x_col) if isinstance(x_col, str) else x_col
    cells = df.groupBy(b.alias("_b"), t.alias("_t")).agg(
        F.max(x.cast("int")).alias("_x")
    )
    kk = cells.agg(
        F.countDistinct("_t").alias("_k"),
        F.countDistinct("_b").alias("_nb"),
    )
    cj = F.col("_cj").cast("decimal(19,0)")
    per_t = cells.groupBy("_t").agg(F.sum("_x").alias("_cj"))
    tstats = per_t.agg(
        F.sum(F.col("_cj").cast("decimal(38,0)")).alias("_tt"),
        F.sum((cj * cj).cast("decimal(38,0)")).alias("_c2"),
    )
    ri = F.col("_ri").cast("decimal(19,0)")
    bstats = (
        cells.groupBy("_b")
        .agg(F.sum("_x").alias("_ri"))
        .agg(F.sum((ri * ri).cast("decimal(38,0)")).alias("_r2"))
    )
    one = tstats.crossJoin(F.broadcast(bstats)).crossJoin(F.broadcast(kk))
    k = F.col("_k").cast("double")
    tt = F.col("_tt").cast("double")
    num = k * F.col("_c2").cast("double") - tt * tt
    den = k * tt - F.col("_r2").cast("double")
    q = F.when(den > 0, (k - F.lit(1.0)) * num / den)
    return one.select(
        F.col("_nb").cast("long").alias("n_blocks"),
        F.col("_k").cast("long").alias("k"),
        q.alias("q_stat"),
        (F.col("_k") - F.lit(1)).cast("long").alias("df"),
    )


def kendall_tau(
    df: DataFrame,
    col_a: str,
    col_b: str,
    max_cells: int = 2_000_000,
) -> DataFrame:
    """Kendall's τ-b rank correlation between two numeric columns —
    the concordant/discordant-pair companion of ``spearman_corr``
    (τ weights each inversion once; ρ weights by rank distance).

    The O(n²) pair space NEVER materializes: the data collapses to
    the joint frequency table f(a,b) first (one hash aggregate), and
    concordant/discordant counts come from the CELL self-join
    C = Σ f·f′ over (a′<a, b′<b), D over (a′<a, b′>b) — quadratic
    only in DISTINCT CELLS, which the ``max_cells`` contract bounds
    (raise inside the plan, the ``PACKED_ARRAY_CAP`` pattern): τ on
    unbounded-cardinality doubles is the wrong tool — quantize or
    sample upstream.  Tie terms n₁ = Σt_a(t_a−1)/2, n₂ likewise come
    from the marginals.  All counts are exact decimal integers;
    τ-b = (C−D)/√((n₀−n₁)(n₀−n₂)) is one closed-form double.
    Output: one row (n, concordant, discordant, tau_b)."""
    cells = df.groupBy(
        F.col(col_a).alias("_a"), F.col(col_b).alias("_b")
    ).agg(F.count(F.lit(1)).alias("_f"))
    ncells = cells.agg(F.count(F.lit(1)).alias("_nc"))
    guard_msg = F.concat(
        F.lit(f"kendall_tau: joint cell table exceeds max_cells={max_cells} (got "),
        F.col("_nc").cast("string"),
        F.lit(") — the cell self-join is only valid for distinct-bounded pairs; quantize first"),
    )
    # fold the guard into the USED frequency column — a standalone
    # guarded column would be pruned away by Catalyst before it could
    # fire (column pruning removes unused projections)
    cells = cells.crossJoin(F.broadcast(ncells)).select(
        "_a",
        "_b",
        F.when(F.col("_nc") > F.lit(max_cells), F.raise_error(guard_msg))
        .otherwise(F.col("_f"))
        .alias("_f"),
    )
    right = cells.select(
        F.col("_a").alias("_a2"), F.col("_b").alias("_b2"), F.col("_f").alias("_f2")
    )
    ff = (F.col("_f").cast("decimal(19,0)") * F.col("_f2").cast("decimal(19,0)")).cast(
        "decimal(38,0)"
    )
    pair_counts = (
        cells.join(F.broadcast(right), F.col("_a2") < F.col("_a"))
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("_b2") < F.col("_b"), ff)), F.lit(0).cast("decimal(38,0)")
            ).alias("_c"),
            F.coalesce(
                F.sum(F.when(F.col("_b2") > F.col("_b"), ff)), F.lit(0).cast("decimal(38,0)")
            ).alias("_d"),
        )
    )
    ta = F.col("_t").cast("decimal(19,0)")
    tie_a = (
        cells.groupBy("_a")
        .agg(F.sum("_f").alias("_t"))
        .agg(F.sum((ta * (ta - F.lit(1).cast("decimal(2,0)"))).cast("decimal(38,0)")).alias("_2n1"),
             F.sum(F.col("_t").cast("decimal(38,0)")).alias("_n"))
    )
    tie_b = (
        cells.groupBy("_b")
        .agg(F.sum("_f").alias("_t"))
        .agg(F.sum((ta * (ta - F.lit(1).cast("decimal(2,0)"))).cast("decimal(38,0)")).alias("_2n2"))
    )
    one = pair_counts.crossJoin(F.broadcast(tie_a)).crossJoin(F.broadcast(tie_b))
    n = F.col("_n").cast("double")
    n0 = n * (n - F.lit(1.0)) / F.lit(2.0)
    n1 = F.col("_2n1").cast("double") / F.lit(2.0)
    n2 = F.col("_2n2").cast("double") / F.lit(2.0)
    c = F.col("_c").cast("double")
    d = F.col("_d").cast("double")
    tau = F.when(
        (n0 - n1) * (n0 - n2) > 0, (c - d) / F.sqrt((n0 - n1) * (n0 - n2))
    )
    return one.select(
        F.col("_n").cast("long").alias("n"),
        F.col("_c").cast("long").alias("concordant"),
        F.col("_d").cast("long").alias("discordant"),
        tau.alias("tau_b"),
    )


def cvm_test(
    df: DataFrame,
    group_col,
    value_col: str,
    group_a,
    group_b,
    cells: Optional[DataFrame] = None,
    cells_count: Optional[int] = None,
) -> DataFrame:
    """Exact two-sample Cramér–von Mises statistic between two
    cohorts of a numeric column: T = n₁n₂/N² · Σ_z h(z)·(F̂₁(z)−F̂₂(z))²
    over the pooled sample (h = multiplicity) — the
    whole-distribution companion of :func:`ks_test` (KS reacts to the
    single worst gap; CvM integrates every gap, so it sees broad
    small shifts KS misses).

    Over the running counts of :func:`_rank_cells`, the gap sum
    FACTORS through three exact integer moments — Σh·c₁², Σh·c₁c₂,
    Σh·c₂² (order-free decimal(38,0) sums, bounded for cohorts
    ≤ 10¹¹ rows) — so Σh·(c₁n₂−c₂n₁)² = n₂²A − 2n₁n₂B + n₁²C is ONE
    double expression over exact sums and T divides once by n₁n₂N².
    Output: one row (n_a, n_b, t_stat).

    ``cells``/``cells_count``: see :func:`ks_test` — the shared
    two-cohort collapse injection (r14)."""
    ranked, _, _ = _rank_cells(
        df, group_col, value_col, [group_a, group_b], cells, cells_count
    )
    # exact typed products: c ≤ 10¹¹ as (12,0), c·c′ → (23,0) cast,
    # h ≤ 2·10¹¹ as (12,0), h·(c·c′) → (36,0) — every intermediate
    # stays under the 38-digit cap on BOTH engines with no precision
    # loss (the DuckDB mirror runs the same ladder in HUGEINT)
    ca12 = F.col("_m0").cast("decimal(12,0)")
    cb12 = F.col("_m1").cast("decimal(12,0)")
    h12 = F.col("_t").cast("decimal(12,0)")
    summed = ranked.agg(
        F.sum((h12 * (ca12 * ca12).cast("decimal(23,0)")).cast("decimal(38,0)")).alias("_A"),
        F.sum((h12 * (ca12 * cb12).cast("decimal(23,0)")).cast("decimal(38,0)")).alias("_B"),
        F.sum((h12 * (cb12 * cb12).cast("decimal(23,0)")).cast("decimal(38,0)")).alias("_C"),
        F.sum("_c0").alias("_na"),
        F.sum("_c1").alias("_nb"),
    )
    na = F.col("_na").cast("double")
    nb = F.col("_nb").cast("double")
    nn = na + nb
    gap_sum = (
        nb * nb * F.col("_A").cast("double")
        - F.lit(2.0) * na * nb * F.col("_B").cast("double")
        + na * na * F.col("_C").cast("double")
    )
    t_stat = gap_sum / (na * nb * nn * nn)
    return _finalize_bounded(summed.select(
        F.col("_na").cast("long").alias("n_a"),
        F.col("_nb").cast("long").alias("n_b"),
        t_stat.alias("t_stat"),
    ))


def macd(
    series: DataFrame,
    key_col: str,
    value_col: str,
    fast: int = 12,
    slow: int = 26,
    signal: int = 9,
) -> DataFrame:
    """MACD momentum decomposition of an ordered series: fast/slow
    EMAs (α = 2/(span+1)), macd = EMA_fast − EMA_slow, signal =
    EMA_signal(macd), histogram = macd − signal — the trading-style
    trend monitor over e.g. monthly revenue, per period.

    The series collapses to one row per key (duplicate keys sum in
    exact decimal) and packs into ONE key-ordered array
    (calendar-bounded, cap-guarded) whose single left fold carries
    (ema_f, ema_s, sig, rows): each step appends one output struct, so
    the FP operation order is pinned and every period's triple is
    engine-reproducible (DuckDB mirror: a recursive CTE stepping the
    identical expressions).  EMAs seed at the first value; the signal
    seeds at the first macd (0).  Output per period:
    (k, macd, signal, histogram)."""
    af = 2.0 / (fast + 1)
    a_s = 2.0 / (slow + 1)
    ag = 2.0 / (signal + 1)
    packed = (
        series.groupBy(F.col(key_col).cast("long").alias("_k"))
        .agg(F.sum(F.col(value_col).cast("decimal(18,2)")).alias("_y"))
        .agg(
            _capped_packed(
                F.array_sort(
                    F.collect_list(
                        F.struct("_k", F.col("_y").cast("double").alias("_v"))
                    )
                ),
                "macd",
            ).alias("_s")
        )
        .filter(F.size(F.col("_s")) >= 1)
    )
    first = F.element_at(F.col("_s"), 1)
    row_t = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("m", T.DoubleType()),
            T.StructField("g", T.DoubleType()),
        ]
    )
    init = F.struct(
        first["_v"].alias("ef"),
        first["_v"].alias("es"),
        F.lit(0.0).alias("sg"),
        F.array(
            F.struct(
                first["_k"].alias("k"), F.lit(0.0).alias("m"), F.lit(0.0).alias("g")
            )
        ).cast(T.ArrayType(row_t)).alias("out"),
    )

    def step(acc, x):
        ef = F.lit(af) * x["_v"] + F.lit(1.0 - af) * acc["ef"]
        es = F.lit(a_s) * x["_v"] + F.lit(1.0 - a_s) * acc["es"]
        m = (
            (F.lit(af) * x["_v"] + F.lit(1.0 - af) * acc["ef"])
            - (F.lit(a_s) * x["_v"] + F.lit(1.0 - a_s) * acc["es"])
        )
        sg = (
            F.lit(ag)
            * (
                (F.lit(af) * x["_v"] + F.lit(1.0 - af) * acc["ef"])
                - (F.lit(a_s) * x["_v"] + F.lit(1.0 - a_s) * acc["es"])
            )
            + F.lit(1.0 - ag) * acc["sg"]
        )
        return F.struct(
            ef.alias("ef"),
            es.alias("es"),
            sg.alias("sg"),
            F.array_append(
                acc["out"],
                F.struct(
                    x["_k"].alias("k"),
                    m.alias("m"),
                    sg.alias("g"),
                ),
            ).alias("out"),
        )

    folded = packed.select(
        F.aggregate(
            F.slice(F.col("_s"), 2, F.greatest(F.size("_s") - 1, F.lit(0))),
            init,
            step,
        )["out"].alias("_o")
    )
    row = F.explode(F.col("_o")).alias("_r")
    return folded.select(row).select(
        F.col("_r.k").alias("k"),
        F.col("_r.m").alias("macd"),
        F.col("_r.g").alias("signal"),
        (F.col("_r.m") - F.col("_r.g")).alias("histogram"),
    )


# ---------------------------------------------------------------------------
# WAVE 24 (round 11) — time-series diagnostics / paired tests / variance
# homogeneity / shift estimation
# ---------------------------------------------------------------------------


def durbin_watson(series: DataFrame, key_col: str, value_col: str) -> DataFrame:
    """Durbin-Watson autocorrelation diagnostic of a mean-centered
    ordered series: DW = Σ(e_t − e_{t−1})² / Σe_t² with e = y − ȳ —
    the classic "are residuals serially correlated" gate (DW ≈ 2 means
    none).  The mean CANCELS in the numerator differences, so
    Σ(y_t − y_{t−1})² accumulates as EXACT decimal over one lag-1
    equi-join on the integer key (adjacent keys by contract — feed a
    dense calendar index); the denominator is (n·Σy² − S²)/n, one
    double over exact sums.  Output: one row (n, dw)."""
    a = series.groupBy(F.col(key_col).cast("long").alias("_k")).agg(
        F.sum(F.col(value_col).cast("decimal(18,2)")).alias("_y")
    ).localCheckpoint(eager=False)
    b = a.select((F.col("_k") + 1).alias("_k"), F.col("_y").alias("_yp"))
    d = F.col("_y").cast("decimal(19,2)") - F.col("_yp").cast("decimal(19,2)")
    num = a.join(b, "_k").agg(
        F.coalesce(
            F.sum((d * d).cast("decimal(38,4)")),
            F.lit(0).cast("decimal(38,4)"),
        ).alias("_num")
    )
    y19 = F.col("_y").cast("decimal(19,2)")
    tot = a.agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("_y").alias("_s"),
        F.sum((y19 * y19).cast("decimal(38,4)")).alias("_ss"),
    )
    one = num.crossJoin(F.broadcast(tot))
    n = F.col("_n").cast("double")
    den = (
        n * F.col("_ss").cast("double")
        - F.col("_s").cast("double") * F.col("_s").cast("double")
    ) / n
    dw = F.when(den > 0, F.col("_num").cast("double") / den)
    return one.select(F.col("_n").cast("long").alias("n"), dw.alias("dw"))


def ljung_box(
    series: DataFrame,
    key_col: str,
    value_col: str,
    max_lag: int = 12,
) -> DataFrame:
    """Ljung-Box portmanteau white-noise test of an ordered series:
    Q = n(n+2)·Σ_{k≤m} ρ̂_k²/(n−k) with the FULL-SERIES-MEAN
    autocorrelations ρ̂_k = Σ(y_t−ȳ)(y_{t+k}−ȳ)/Σ(y_t−ȳ)² — the
    "any serial structure at all?" companion of the per-lag
    ``lag_correlations`` (which Pearson-normalizes each lag's pair
    set separately).  Keys must be DENSE integers by contract (month
    index); n, every Σy_t y_{t+k}, and the per-lag partial sums
    Σ_{t≤n−k}, Σ_{t>k} accumulate exactly from ONE lag-exploded
    equi-join, so each ρ̂_k = (Σyy_k − ȳ(Σa+Σb) + (n−k)ȳ²)/D is one
    pinned double expression, and Q folds the m-bounded lag list in
    lag order.  Output: one row (n, m, q_stat)."""
    a = series.groupBy(F.col(key_col).cast("long").alias("_k")).agg(
        F.sum(F.col(value_col).cast("decimal(18,2)")).alias("_y")
    ).localCheckpoint(eager=False)
    y19 = F.col("_y").cast("decimal(19,2)")
    tot = a.agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("_y").alias("_s"),
        F.sum((y19 * y19).cast("decimal(38,4)")).alias("_ss"),
    )
    b = a.select(F.col("_k").alias("_kb"), F.col("_y").alias("_yb"))
    fanned = a.withColumn(
        "_lag", F.explode(F.sequence(F.lit(1), F.lit(int(max_lag))))
    ).withColumn("_kb", F.col("_k") + F.col("_lag"))
    per_lag = (
        fanned.join(b, "_kb")
        .groupBy("_lag")
        .agg(
            F.count(F.lit(1)).alias("_nk"),
            F.sum("_y").alias("_sa"),
            F.sum("_yb").alias("_sb"),
            F.sum(
                (y19 * F.col("_yb").cast("decimal(19,2)")).cast("decimal(38,4)")
            ).alias("_sab"),
        )
    )
    j = per_lag.crossJoin(F.broadcast(tot))
    n = F.col("_n").cast("double")
    mean = F.col("_s").cast("double") / n
    den = F.col("_ss").cast("double") - n * mean * mean
    rho = (
        F.col("_sab").cast("double")
        - mean * (F.col("_sa").cast("double") + F.col("_sb").cast("double"))
        + F.col("_nk").cast("double") * mean * mean
    ) / den
    terms = j.select(
        "_lag",
        "_n",
        (rho * rho / (n - F.col("_lag").cast("double"))).alias("_t"),
    )
    folded = terms.agg(
        _capped_packed(
            F.array_sort(F.collect_list(F.struct("_lag", "_t"))), "ljung_box"
        ).alias("_z"),
        F.max("_n").alias("_n"),
        F.count(F.lit(1)).alias("_m"),
    )
    qsum = F.aggregate(
        F.transform(F.col("_z"), lambda x: x["_t"]),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    nn = F.col("_n").cast("double")
    return folded.select(
        F.col("_n").cast("long").alias("n"),
        F.col("_m").cast("long").alias("m"),
        (nn * (nn + F.lit(2.0)) * qsum).alias("q_stat"),
    )


def mcnemar_test(
    df: DataFrame,
    subject_col,
    condition_col,
    x_col,
    cond_a,
    cond_b,
) -> DataFrame:
    """McNemar paired-binary test: among subjects observed under two
    conditions, do the (yes→no) and (no→yes) switch counts differ?
    χ² = (|b − c| − 1)²/(b + c) with continuity correction — the
    2-treatment special case of :func:`cochran_q` (retention-style
    questions: ordered in 1994 but not 1995?).

    Subjects missing a condition count as x = 0 for it (presence
    semantics).  One cell aggregate per (subject, condition), one
    subject-level pivot, three integer counts — χ² is one double
    division.  Output: one row (n_subjects, b, c, chi2)."""
    s = F.col(subject_col) if isinstance(subject_col, str) else subject_col
    cnd = F.col(condition_col) if isinstance(condition_col, str) else condition_col
    x = F.col(x_col) if isinstance(x_col, str) else x_col
    cells = df.groupBy(s.alias("_s")).agg(
        F.max(F.when(cnd == cond_a, x.cast("int")).otherwise(0)).alias("_xa"),
        F.max(F.when(cnd == cond_b, x.cast("int")).otherwise(0)).alias("_xb"),
    )
    one = cells.agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(
            ((F.col("_xa") == 1) & (F.col("_xb") == 0)).cast("long")
        ).alias("_b"),
        F.sum(
            ((F.col("_xa") == 0) & (F.col("_xb") == 1)).cast("long")
        ).alias("_c"),
    )
    b = F.col("_b").cast("double")
    c = F.col("_c").cast("double")
    chi2 = F.when(
        (b + c) > 0,
        (F.abs(b - c) - F.lit(1.0)) * (F.abs(b - c) - F.lit(1.0)) / (b + c),
    )
    return one.select(
        F.col("_n").cast("long").alias("n_subjects"),
        F.col("_b").alias("b"),
        F.col("_c").alias("c"),
        chi2.alias("chi2"),
    )


def page_trend_test(
    df: DataFrame,
    block_col,
    treat_col,
    value_col: str,
) -> DataFrame:
    """Page's L trend test for an ORDERED alternative over k related
    treatments (the monotone-hypothesis sharpening of
    :func:`friedman_test`): L = Σ_j j·R_j over within-block midranks
    with treatments in their natural sort order; under H₀,
    E[L] = nk(k+1)²/4 and Var[L] = nk²(k+1)(k²−1)/144 (no-tie form),
    z = (L − E)/√Var.  Doubled midranks keep 2L and 2E exact
    integers; blocks missing any treatment are dropped.  Output: one
    row (n_blocks, k, l_stat, z)."""
    from pyspark.sql.window import Window

    b = F.col(block_col) if isinstance(block_col, str) else block_col
    t = F.col(treat_col) if isinstance(treat_col, str) else treat_col
    cells = df.groupBy(b.alias("_b"), t.alias("_t")).agg(
        F.sum(F.col(value_col).cast("decimal(18,2)")).alias("_y")
    )
    kk = cells.agg(F.countDistinct("_t").alias("_k"))
    complete = (
        cells.withColumn(
            "_cb", F.count(F.lit(1)).over(Window.partitionBy("_b"))
        )
        .crossJoin(F.broadcast(kk))
        .filter(F.col("_cb") == F.col("_k"))
    )
    wrank = Window.partitionBy("_b").orderBy("_y")
    wties = Window.partitionBy("_b", "_y")
    wtreat = Window.partitionBy("_b").orderBy("_t")
    ranked = complete.select(
        "_b",
        "_k",
        F.row_number().over(wtreat).cast("long").alias("_j"),
        (
            F.lit(2) * F.rank().over(wrank)
            + F.count(F.lit(1)).over(wties)
            - F.lit(1)
        ).cast("long").alias("_2r"),
    )
    j19 = F.col("_j").cast("decimal(19,0)")
    one = ranked.agg(
        F.countDistinct("_b").cast("long").alias("_n"),
        F.max("_k").cast("long").alias("_kk"),
        F.sum((j19 * F.col("_2r").cast("decimal(19,0)")).cast("decimal(38,0)")).alias("_2l"),
    )
    n = F.col("_n").cast("double")
    k = F.col("_kk").cast("double")
    l_stat = F.col("_2l").cast("double") / F.lit(2.0)
    e_l = n * k * (k + F.lit(1.0)) * (k + F.lit(1.0)) / F.lit(4.0)
    var_l = (
        n * k * k * (k + F.lit(1.0)) * (k * k - F.lit(1.0)) / F.lit(144.0)
    )
    z = F.when(var_l > 0, (l_stat - e_l) / F.sqrt(var_l))
    return one.select(
        F.col("_n").alias("n_blocks"),
        F.col("_kk").alias("k"),
        l_stat.alias("l_stat"),
        z.alias("z"),
    )


def bartlett_test(
    df: DataFrame,
    group_col,
    value_col: str,
) -> DataFrame:
    """Bartlett's homogeneity-of-variance test across k groups:
    B = [(N−k)·ln S_p² − Σ(n_i−1)·ln S_i²] / C with the usual
    correction C = 1 + (Σ1/(n_i−1) − 1/(N−k)) / (3(k−1)) — the
    normal-theory (variance-sensitive) sibling of the
    median-centered :func:`levene_test`.

    One grouped scan of exact decimal moments; every group's
    (n_i−1)S_i² = (n_iΣy² − (Σy)²)/n_i and the three k-bounded sums
    (ln terms, reciprocals, pooled SS) fold group-sorted with pinned
    FP order, so B is engine-identical.  Groups with n_i < 2 or zero
    variance are rejected by a NULL statistic rather than a wrong
    one.  Output: one row (n, k, b_stat)."""
    g = F.col(group_col) if isinstance(group_col, str) else group_col
    y = F.col(value_col).cast("decimal(18,2)")
    per = df.groupBy(g.alias("_g")).agg(
        F.count(F.lit(1)).alias("_ng"),
        F.sum(y).cast("decimal(38,2)").alias("_sg"),
        F.sum((y.cast("decimal(19,2)") * y.cast("decimal(19,2)")).cast("decimal(38,4)")).alias("_ssg"),
    )
    ngd = F.col("_ng").cast("double")
    ssq = (
        ngd * F.col("_ssg").cast("double")
        - F.col("_sg").cast("double") * F.col("_sg").cast("double")
    ) / ngd  # = (n_i − 1)·S_i²
    per2 = per.select(
        "_g",
        "_ng",
        ssq.alias("_q"),
        F.when(
            (F.col("_ng") > 1) & (ssq > 0),
            (ngd - F.lit(1.0)) * F.log(ssq / (ngd - F.lit(1.0))),
        ).alias("_lnterm"),
        F.when(F.col("_ng") > 1, F.lit(1.0) / (ngd - F.lit(1.0))).alias("_inv"),
    )
    packed = per2.agg(
        _capped_packed(
            F.array_sort(
                F.collect_list(F.struct("_g", "_q", "_lnterm", "_inv"))
            ),
            "bartlett_test",
        ).alias("_z"),
        F.sum("_ng").alias("_n"),
        F.count(F.lit(1)).alias("_k"),
        F.min("_ng").alias("_minng"),
        F.min(F.when(F.col("_q") > 0, 1).otherwise(0)).alias("_posvar"),
    )

    def fold(field):
        return F.aggregate(
            F.transform(F.col("_z"), lambda x: x[field]),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    n = F.col("_n").cast("double")
    k = F.col("_k").cast("double")
    pooled = fold("_q") / (n - k)
    b_num = (n - k) * F.log(pooled) - fold("_lnterm")
    c = F.lit(1.0) + (fold("_inv") - F.lit(1.0) / (n - k)) / (
        F.lit(3.0) * (k - F.lit(1.0))
    )
    b_stat = F.when(
        (F.col("_minng") > 1) & (F.col("_posvar") == 1) & (k > 1),
        b_num / c,
    )
    return packed.select(
        F.col("_n").cast("long").alias("n"),
        F.col("_k").cast("long").alias("k"),
        b_stat.alias("b_stat"),
    )


def hodges_lehmann(
    df: DataFrame,
    group_col,
    value_col: str,
    group_a,
    group_b,
    max_cells: int = 2_000_000,
) -> DataFrame:
    """Hodges-Lehmann shift estimator between two samples: the median
    of all n_a·n_b pairwise differences x_i − y_j — the robust
    "how big is the shift" companion of :func:`mann_whitney_u`
    (which only says whether one exists).

    The pair space never materializes per-row: both samples collapse
    to the distinct-value counts of :func:`_rank_cells` (values as
    decimal(18,2)), the difference distribution is their O(cells²)
    convolution (bounded by the ``max_cells`` contract — quantize
    unbounded doubles upstream), and the median comes from ONE
    diff-sorted fold over the convolved cells: lower/upper medians at
    the ⌈T/2⌉ and ⌊T/2⌋+1 cumulative thresholds, averaged exactly in
    decimal before ONE double cast.  Output: one row (n_a, n_b,
    n_pairs, hl_shift)."""
    ranked, n_cells, (n_a, n_b) = _rank_cells(
        df, group_col, F.col(value_col).cast("decimal(18,2)"), [group_a, group_b]
    )
    if n_cells > max_cells:
        raise ValueError(
            f"hodges_lehmann: distinct-value table exceeds max_cells={max_cells} "
            f"(got {n_cells}) — the convolution is only valid for "
            "distinct-bounded values; quantize first"
        )
    cells = ranked.select("_v", F.col("_c0").alias("_ca"), F.col("_c1").alias("_cb"))
    right = cells.select(F.col("_v").alias("_v2"), F.col("_cb").alias("_cb2"))
    conv = (
        cells.filter(F.col("_ca") > 0)
        .join(F.broadcast(right.filter(F.col("_cb2") > 0)), how="cross")
        .groupBy((F.col("_v") - F.col("_v2")).alias("_d"))
        .agg(
            F.sum(
                (
                    F.col("_ca").cast("decimal(19,0)")
                    * F.col("_cb2").cast("decimal(19,0)")
                ).cast("decimal(38,0)")
            ).alias("_w")
        )
    )
    packed = conv.agg(
        _capped_packed(
            F.array_sort(F.collect_list(F.struct("_d", "_w"))), "hodges_lehmann"
        ).alias("_z")
    )
    ws = F.transform(F.col("_z"), lambda s: s["_w"])
    total = F.aggregate(
        ws, F.lit(0).cast("decimal(38,0)"), lambda acc, w: acc + w
    )
    # ⌈T/2⌉ and ⌊T/2⌋+1 in EXACT decimal (a double round-trip would
    # corrupt thresholds beyond 2⁵³ pairs)
    odd = F.pmod(total, F.lit(2).cast("decimal(2,0)"))
    lo_t = ((total + odd) / F.lit(2).cast("decimal(2,0)")).cast("decimal(38,0)")
    hi_t = (
        (total - odd) / F.lit(2).cast("decimal(2,0)")
        + F.lit(1).cast("decimal(2,0)")
    ).cast("decimal(38,0)")

    def median_at(threshold):
        # first diff whose cumulative weight reaches the threshold —
        # a single fold carrying (cum, found)
        return F.aggregate(
            F.col("_z"),
            F.struct(
                F.lit(0).cast("decimal(38,0)").alias("cum"),
                F.lit(None).cast("decimal(19,2)").alias("med"),
            ),
            lambda acc, s: F.struct(
                (acc["cum"] + s["_w"]).alias("cum"),
                F.when(
                    acc["med"].isNull() & ((acc["cum"] + s["_w"]) >= threshold),
                    s["_d"].cast("decimal(19,2)"),
                )
                .otherwise(acc["med"])
                .alias("med"),
            ),
        )["med"]

    hl = (
        (median_at(lo_t) + median_at(hi_t))
        / F.lit(2).cast("decimal(2,0)")
    ).cast("double")
    return packed.select(
        F.lit(n_a).cast("long").alias("n_a"),
        F.lit(n_b).cast("long").alias("n_b"),
        total.cast("long").alias("n_pairs"),
        hl.alias("hl_shift"),
    )


# ---------------------------------------------------------------------------
# WAVE 25 (round 11) — deterministic resampling inference.  No RNG
# anywhere: replicate randomness comes from the engine-portable md5
# hash (dedup's `_hash_md5_hex` convention), so every replicate — and
# therefore every CI and p-value — is bit-reproducible on any engine
# and any partitioning.
# ---------------------------------------------------------------------------

#: integer inverse-CDF thresholds of Poisson(1) over the 28-bit hash
#: space: weight w = #{t : t ≤ x} for x = int(md5[:7], 16) — exact
#: integer comparisons, no float boundary anywhere.
_POISSON1_THRESHOLDS = [
    98751885, 197503771, 246879713, 263338361, 267453023, 268275955,
    268413111, 268432704, 268435153, 268435426, 268435453, 268435455,
]

#: the same Poisson(1) inverse CDF scaled to the affine-rehash range
#: [0, 2³¹−1) (``dedup._AFFINE_P``) — for the one-md5-per-row /
#: affine-per-replicate fast path.
_POISSON1_P_THRESHOLDS = [
    790015083, 1580030167, 1975037709, 2106706890, 2139624185,
    2146207644, 2147304887, 2147461637, 2147481230, 2147483407,
    2147483625, 2147483645,
]


def _hash28(col, seed_col) -> Column:
    """Portable 28-bit uniform: int(md5(rep||':'||id)[:7], 16) — the
    minhash family's base hash, reproducible in DuckDB as
    ('0x' || substr(md5(rep || ':' || id), 1, 7))::BIGINT."""
    return F.conv(
        F.substring(F.md5(F.concat(seed_col.cast("string"), F.lit(":"), col.cast("string"))), 1, 7),
        16,
        10,
    ).cast("long")


def bootstrap_mean_ci(
    df: DataFrame,
    id_col: str,
    value_col: str,
    reps: int = 32,
    alpha: float = 0.10,
) -> DataFrame:
    """Percentile bootstrap CI for the mean via the POISSON bootstrap
    — the resampling scheme that actually distributes: classical
    bootstrap needs a global multinomial draw (one coordinator owning
    all n rows); Poisson(1) weights are per-row independent, so each
    replicate is ONE weighted aggregate and the whole B-replicate
    ensemble is ONE explode + ONE grouped aggregate, any partitioning.

    Determinism: each row pays ONE md5 (the 28-bit base hash of its
    id — the minhash family's base), then every replicate derives its
    uniform via the seeded affine rehash h_r = (a_r·x + c_r) mod
    2³¹−1 (``dedup._affine_coeffs`` — a 2-universal family, literal
    coefficients on both engines, ~30× cheaper than an md5 per
    (row, rep)) and inverts the Poisson(1) CDF against INTEGER
    thresholds — no RNG, no float boundaries — so the replicate means
    (exact decimal totals over exact integer weights, one double
    division each) and the order-statistic CI endpoints are
    engine-exact.  Output: one row (n, reps, mean, ci_lo, ci_hi)."""
    from csp_gateway_spark.operators.dedup import _AFFINE_P, _affine_coeffs

    b = int(reps)
    coeffs = _affine_coeffs(b)
    x0 = _hash28(F.col("_id"), F.lit("boot"))
    # the replicate fan-out explodes an array of (rep, a, c) STRUCTS —
    # coefficients travel as plain fields of the exploded row; an
    # element_at(array(...)) lookup instead would rebuild the literal
    # array per FANNED row (B× the base), measured 8× slower
    rep_structs = F.array(
        *[
            F.struct(
                F.lit(r).cast("int").alias("_rep"),
                F.lit(a).cast("long").alias("_a"),
                F.lit(c).cast("long").alias("_c"),
            )
            for r, (a, c) in enumerate(coeffs)
        ]
    )
    x = F.pmod(F.col("_a") * F.col("_x0") + F.col("_c"), F.lit(_AFFINE_P))
    # inverse CDF as the FLAT sum w = Σ_k [x ≥ T_k] — value-identical
    # to the ascending CASE ladder but codegen-light; the rehash x is
    # PROJECTED ONCE per fanned row so the 12 ladder terms reference a
    # plain column instead of 12 copies of the hash expression tree
    # (nested-ladder + inlined trees measured seconds of first-run
    # JIT; this shape compiles in milliseconds)
    w = F.lit(0)
    for t in _POISSON1_P_THRESHOLDS:
        w = w + (F.col("_xr") >= F.lit(t)).cast("int")
    w = w.cast("long")
    y = F.col(value_col).cast("decimal(18,2)")
    # one narrow shuffle BEFORE the B× fan-out: a single-file scan
    # would otherwise leave the explode+hash+weight work on one task
    # (row-count × reps on a single thread — measured 7 s vs 0.6 s at
    # sf0.1); after it, the replicate expansion is scan-parallel
    fanned = (
        df.select(F.col(id_col).alias("_id"), y.alias("_y"))
        .repartition(F.col("_id"))
        .select(x0.alias("_x0"), F.col("_y"), F.explode(rep_structs).alias("_rc"))
        .select("_y", F.col("_rc._rep").alias("_rep"), F.col("_rc._a").alias("_a"), F.col("_rc._c").alias("_c"), "_x0")
        .select("_y", "_rep", x.alias("_xr"))
    )
    per_rep = fanned.select("_rep", w.alias("_w"), "_y").groupBy("_rep").agg(
        F.sum((F.col("_w").cast("decimal(6,0)") * F.col("_y")).cast("decimal(38,2)")).alias("_sw"),
        F.sum("_w").alias("_nw"),
    )
    # the replicate table is ≤ reps rows — a bounded driver
    # intermediate (the centroid/LR-weights precedent).  Python's
    # float(Decimal) and float/float division are the same
    # correctly-rounded IEEE operations as Spark's decimal→double cast
    # and double division, so the sorted replicate means — and the
    # order-statistic endpoints re-entering the plan as literals — are
    # bit-identical to the former in-plan array_sort tail (which cost
    # seconds of per-query Catalyst analysis).  The one bounded job
    # runs on the dedicated AQE-off session clone: a fixed 32-group
    # aggregate gains nothing from runtime re-planning and its
    # per-stage re-optimization was measured at half the operator's
    # wall clock (values are partitioning-invariant, so the result is
    # unchanged) — and the SHARED session's conf is never mutated.
    from csp_gateway_spark.session import bounded_session, rebind_session

    sess = df.sparkSession
    rows = rebind_session(per_rep, bounded_session(sess)).collect()
    ms = sorted(
        float(r["_sw"]) / float(r["_nw"]) for r in rows if r["_nw"]
    )
    lo_idx = int(math.floor(alpha / 2.0 * b)) + 1
    hi_idx = int(math.ceil((1.0 - alpha / 2.0) * b))
    ci_lo = ms[lo_idx - 1] if len(ms) >= lo_idx else None
    ci_hi = ms[hi_idx - 1] if len(ms) >= hi_idx else None
    tot = df.agg(F.count(F.lit(1)).alias("_n"), F.sum(y).alias("_s"))
    return tot.select(
        F.col("_n").cast("long").alias("n"),
        F.lit(len(ms)).cast("long").alias("reps"),
        (F.col("_s").cast("double") / F.col("_n").cast("double")).alias("mean"),
        F.lit(ci_lo).cast("double").alias("ci_lo"),
        F.lit(ci_hi).cast("double").alias("ci_hi"),
    )


def signflip_test(
    pairs: DataFrame,
    id_col: str,
    diff_col: str,
    reps: int = 63,
) -> DataFrame:
    """Paired randomization (sign-flip) test: under H₀ the paired
    difference d_i is symmetric around 0, so every ±1 sign pattern of
    Σs_i·d_i is equally likely; p = (1 + #{r : |T_r| ≥ |T_obs|})
    / (reps + 1) — the assumption-free alternative to the paired t /
    ``wilcoxon`` pair.

    Signs come from one md5 hash bit of ``rep:id`` (deterministic,
    partition-invariant); every replicate total is an EXACT decimal
    sum, so the |T_r| ≥ |T_obs| comparisons are exact and p is a
    rational with one final double cast.  One explode + one grouped
    aggregate for all replicates.  Output: one row
    (n_pairs, reps, t_obs, p_value)."""
    b = int(reps)
    d = F.col(diff_col).cast("decimal(18,2)")
    base = pairs.select(F.col(id_col).alias("_id"), d.alias("_d"))
    obs = base.agg(
        F.count(F.lit(1)).alias("_n"),
        F.coalesce(F.sum("_d"), F.lit(0).cast("decimal(38,2)")).alias("_t"),
    )
    x = _hash28(F.col("_id"), F.col("_rep"))
    sign = F.when(F.pmod(x, F.lit(2)) == 0, F.lit(1)).otherwise(F.lit(-1))
    fanned = base.select(
        "_id", "_d",
        F.explode(F.sequence(F.lit(1), F.lit(b))).alias("_rep"),
    )
    per_rep = fanned.select("_rep", (sign.cast("decimal(2,0)") * F.col("_d")).alias("_sd")).groupBy(
        "_rep"
    ).agg(F.sum(F.col("_sd").cast("decimal(38,2)")).alias("_tr"))
    counted = per_rep.crossJoin(F.broadcast(obs)).agg(
        F.sum(
            (F.abs(F.col("_tr")) >= F.abs(F.col("_t"))).cast("long")
        ).alias("_ge"),
        F.max("_n").alias("_n"),
        F.max("_t").alias("_t"),
    )
    return counted.select(
        F.col("_n").cast("long").alias("n_pairs"),
        F.lit(b).cast("long").alias("reps"),
        F.col("_t").cast("double").alias("t_obs"),
        (
            (F.lit(1.0) + F.col("_ge").cast("double"))
            / F.lit(float(b + 1))
        ).alias("p_value"),
    )


def jackknife_variance(
    df: DataFrame,
    group_col,
    value_col: str,
) -> DataFrame:
    """Delete-one-GROUP (block) jackknife variance of the mean: for
    each of the G groups, the leave-that-group-out mean
    θ̂₍₋g₎ = (S − S_g)/(N − n_g); the jackknife variance is
    (G−1)/G · Σ(θ̂₍₋g₎ − θ̄)² — the dependence-respecting standard
    error when rows cluster (by month, by crawl, by customer), which
    the iid bootstrap understates.

    One grouped scan of exact decimal sums; the G-bounded θ̂ terms
    fold group-sorted with pinned FP order (both moment folds reuse
    ONE packed array), so the variance is engine-identical.  Output:
    one row (n, g, theta, jack_var, jack_se)."""
    g = F.col(group_col) if isinstance(group_col, str) else group_col
    y = F.col(value_col).cast("decimal(18,2)")
    per = df.groupBy(g.alias("_g")).agg(
        F.count(F.lit(1)).alias("_ng"),
        F.sum(y).cast("decimal(38,2)").alias("_sg"),
    )
    tot = per.agg(
        F.sum("_ng").alias("_n"),
        F.sum("_sg").alias("_s"),
        F.count(F.lit(1)).alias("_gc"),
    )
    theta_g = (
        (F.col("_s") - F.col("_sg")).cast("double")
        / (F.col("_n") - F.col("_ng")).cast("double")
    )
    terms = per.crossJoin(F.broadcast(tot)).select(
        "_g", "_n", "_s", "_gc", theta_g.alias("_tg")
    )
    packed = terms.agg(
        _capped_packed(
            F.array_sort(F.collect_list(F.struct("_g", "_tg"))),
            "jackknife_variance",
        ).alias("_z"),
        F.max("_n").alias("_n"),
        F.max("_s").alias("_s"),
        F.max("_gc").alias("_gc"),
    )
    tsum = F.aggregate(
        F.transform(F.col("_z"), lambda s: s["_tg"]),
        F.lit(0.0),
        lambda a, v: a + v,
    )
    gc = F.col("_gc").cast("double")
    tbar = tsum / gc
    ssq = F.aggregate(
        F.transform(F.col("_z"), lambda s: (s["_tg"] - tbar) * (s["_tg"] - tbar)),
        F.lit(0.0),
        lambda a, v: a + v,
    )
    jvar = (gc - F.lit(1.0)) / gc * ssq
    return packed.select(
        F.col("_n").cast("long").alias("n"),
        F.col("_gc").cast("long").alias("g"),
        (F.col("_s").cast("double") / F.col("_n").cast("double")).alias("theta"),
        jvar.alias("jack_var"),
        F.sqrt(jvar).alias("jack_se"),
    )


# ---------------------------------------------------------------------------
# WAVE 26 (round 11) — distribution distance / partial association /
# spectral seasonality
# ---------------------------------------------------------------------------


def wasserstein_distance(
    df: DataFrame,
    group_col,
    value_col: str,
    group_a,
    group_b,
    cells: Optional[DataFrame] = None,
    cells_count: Optional[int] = None,
    cells_totals: Optional[tuple] = None,
) -> DataFrame:
    """Exact 1-Wasserstein (earth-mover) distance between two cohorts
    of a numeric column: W₁ = ∫|F̂₁ − F̂₂| dx — the metric companion
    of :func:`ks_test` (max gap) and :func:`cvm_test` (integrated
    squared gap): W₁ is in the VALUE's units, so "the distributions
    are $312 apart" reads directly.

    Collapsed-ECDF shape over :func:`_rank_cells` (values as
    decimal(18,2)).  The step integral is TELESCOPED (round 14,
    VERDICT r13 ask #4): with D_i = |c₁ᵢn₂ − c₂ᵢn₁| the classic
    Σ D_i·(v_{i+1} − v_i) equals Σ v_i·(D_{i−1} − D_i) exactly
    (D_0 = D_n = 0 kills the boundary terms), and D_{i−1} is
    derivable PER ROW from the inclusive cumulative minus the row's
    own counts — so there is no "next distinct value" self-join; one
    aggregate over the ranked cells finishes the job.  Every term is
    an exact decimal (per-cell bound: (ca·n₂ + cb·n₁)·v must fit
    decimal(38,2) — cohorts to ~10⁹ rows at 10⁹-unit values); divides
    once by n₁n₂.  Output: one row (n_a, n_b, w1).

    ``cells``/``cells_count``/``cells_totals``: optionally inject a
    :func:`_rank_cells` frame plus its count and (n_a, n_b) totals
    (see :func:`ks_test`) — skips both the collapse and the
    head-collect job (r14)."""
    ranked, _, (n_a, n_b) = _rank_cells(
        df, group_col, F.col(value_col).cast("decimal(18,2)"),
        [group_a, group_b], cells, cells_count, cells_totals,
    )
    spark = df.sparkSession
    if n_a == 0 or n_b == 0:
        return spark.createDataFrame(
            [(n_a, n_b, None)], "n_a long, n_b long, w1 double"
        )
    na12 = F.lit(n_a).cast("decimal(12,0)")
    nb12 = F.lit(n_b).cast("decimal(12,0)")

    def _d(c1, c2):
        return F.abs(
            c1.cast("decimal(19,0)") * nb12 - c2.cast("decimal(19,0)") * na12
        ).cast("decimal(25,0)")

    d_cur = _d(F.col("_m0"), F.col("_m1"))
    d_prev = _d(F.col("_m0") - F.col("_c0"), F.col("_m1") - F.col("_c1"))
    term = (
        F.col("_v").cast("decimal(19,2)")
        * (d_prev - d_cur).cast("decimal(18,0)")
    ).cast("decimal(38,2)")
    summed = ranked.agg(
        F.coalesce(F.sum(term), F.lit(0).cast("decimal(38,2)")).alias("_s"),
    )
    return _finalize_bounded(summed.select(
        F.lit(n_a).cast("long").alias("n_a"),
        F.lit(n_b).cast("long").alias("n_b"),
        (F.col("_s").cast("double") / F.lit(float(n_a) * float(n_b))).alias("w1"),
    ))


def partial_corr(
    df: DataFrame,
    col_x: str,
    col_y: str,
    col_z: str,
    sums: DataFrame | None = None,
) -> DataFrame:
    """First-order partial correlation r_xy·z — the association of x
    and y with z held fixed, from the classic recursion
    (r_xy − r_xz·r_yz)/√((1−r_xz²)(1−r_yz²)) — the "is this
    correlation just a confounder" screen.

    ONE scan accumulates all nine exact decimal moments (three sums,
    three squares, three cross products at (19,2)×(19,2)); each
    pairwise r and the partial are closed-form doubles over exact
    sums.  Output: one row (n, r_xy, r_xz, r_yz, partial_r)."""
    if sums is not None:
        # pre-built 1-row frame with _n/_sx/_sy/_sz/_sxx/_syy/_szz/
        # _sxy/_sxz/_syz carrying the exact values the aggregate below
        # would produce (decimal sums are order-independent)
        one = sums.select(
            "_n", "_sx", "_sy", "_sz", "_sxx", "_syy", "_szz", "_sxy", "_sxz", "_syz"
        )
    else:
        x = F.col(col_x).cast("decimal(18,2)")
        y = F.col(col_y).cast("decimal(18,2)")
        z = F.col(col_z).cast("decimal(18,2)")

        def sq(a, b):
            return F.sum(
                (a.cast("decimal(19,2)") * b.cast("decimal(19,2)")).cast("decimal(38,4)")
            )

        one = df.agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(x.cast("decimal(38,2)")).alias("_sx"),
            F.sum(y.cast("decimal(38,2)")).alias("_sy"),
            F.sum(z.cast("decimal(38,2)")).alias("_sz"),
            sq(x, x).alias("_sxx"),
            sq(y, y).alias("_syy"),
            sq(z, z).alias("_szz"),
            sq(x, y).alias("_sxy"),
            sq(x, z).alias("_sxz"),
            sq(y, z).alias("_syz"),
        )
    n = F.col("_n").cast("double")

    def r(sab, sa, sb, saa, sbb):
        cov = n * F.col(sab).cast("double") - F.col(sa).cast("double") * F.col(sb).cast("double")
        va = n * F.col(saa).cast("double") - F.col(sa).cast("double") * F.col(sa).cast("double")
        vb = n * F.col(sbb).cast("double") - F.col(sb).cast("double") * F.col(sb).cast("double")
        return F.when(va * vb > 0, cov / F.sqrt(va * vb))

    r_xy = r("_sxy", "_sx", "_sy", "_sxx", "_syy")
    r_xz = r("_sxz", "_sx", "_sz", "_sxx", "_szz")
    r_yz = r("_syz", "_sy", "_sz", "_syy", "_szz")
    staged = one.select(
        F.col("_n").cast("long").alias("n"),
        r_xy.alias("r_xy"),
        r_xz.alias("r_xz"),
        r_yz.alias("r_yz"),
    )
    denom = (F.lit(1.0) - F.col("r_xz") * F.col("r_xz")) * (
        F.lit(1.0) - F.col("r_yz") * F.col("r_yz")
    )
    partial = F.when(
        denom > 0,
        (F.col("r_xy") - F.col("r_xz") * F.col("r_yz")) / F.sqrt(denom),
    )
    return staged.select("n", "r_xy", "r_xz", "r_yz", partial.alias("partial_r"))


def periodogram(
    series: DataFrame,
    key_col: str,
    value_col: str,
    min_period: int = 2,
    max_period: int = 24,
) -> DataFrame:
    """Normalized DFT periodogram of an ordered series: for each
    candidate period p, the spectral power of the mean-centered,
    total-normalized series at frequency 1/p — the "which seasonality
    is real" scan behind :func:`seasonal_index` (pick the argmax
    period, then decompose).

    The series packs into ONE key-ordered array (calendar-bounded,
    cap-guarded); each period's cos/sin projections are a single
    pinned-order fold over the same array, and normalizing by the
    exact total keeps power O(1) so the trig term is the only
    engine-variance surface (identical operation order both sides;
    DuckDB mirrors with the same nested list folds).  Output per
    period: (period, power)."""
    packed = (
        series.groupBy(F.col(key_col).cast("long").alias("_k"))
        .agg(F.sum(F.col(value_col).cast("decimal(18,2)")).alias("_y"))
        .agg(
            _capped_packed(
                F.array_sort(
                    F.collect_list(F.struct("_k", F.col("_y").cast("double").alias("_v")))
                ),
                "periodogram",
            ).alias("_s"),
            F.count(F.lit(1)).alias("_n"),
            F.sum("_y").alias("_tot"),
        )
    )
    n = F.col("_n").cast("double")
    mean = F.col("_tot").cast("double") / n
    scale = F.col("_tot").cast("double")
    two_pi = 6.283185307179586
    rows = packed.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(int(min_period)), F.lit(int(max_period))),
                lambda p: F.struct(
                    p.cast("long").alias("period"),
                    F.aggregate(
                        F.zip_with(
                            F.col("_s"),
                            F.sequence(F.lit(1), F.size("_s")),
                            lambda s, i: F.struct(
                                ((s["_v"] - mean) / scale).alias("yv"),
                                i.cast("double").alias("tt"),
                            ),
                        ),
                        F.struct(F.lit(0.0).alias("c"), F.lit(0.0).alias("sn")),
                        lambda acc, e: F.struct(
                            (
                                acc["c"]
                                + e["yv"]
                                * F.cos(F.lit(two_pi) * e["tt"] / p.cast("double"))
                            ).alias("c"),
                            (
                                acc["sn"]
                                + e["yv"]
                                * F.sin(F.lit(two_pi) * e["tt"] / p.cast("double"))
                            ).alias("sn"),
                        ),
                        lambda acc: acc["c"] * acc["c"] + acc["sn"] * acc["sn"],
                    ).alias("power"),
                ),
            )
        ).alias("_r")
    )
    return rows.select(
        F.col("_r.period").alias("period"), F.col("_r.power").alias("power")
    ).orderBy("period")


def conformal_interval(
    df: DataFrame,
    id_col: str,
    group_col,
    value_col: str,
    alpha: float = 0.10,
) -> DataFrame:
    """Split-conformal prediction interval around a per-group median
    model: hash-split the rows into calibration/test halves, take the
    ⌈(n_cal+1)(1−α)⌉-th smallest calibration residual as the
    conformal quantile q̂, and report the test-set coverage of
    ŷ ± q̂ — the distribution-free "are my intervals honest" gate.

    Determinism and exactness end-to-end: the split is one md5 hash
    bit (no RNG); the predictor is the CALIBRATION-half per-group
    median, so DOUBLED residuals |2y − 2ŷ| are exact decimals (the
    ``levene_test`` half-cent trick); and q̂ is an exact order
    statistic from the packed two-phase cumulative over the collapsed
    residual ECDF — no unpartitioned window, no float thresholds.

    Honest coverage: the predictor join is a LEFT join, so test rows
    whose group has zero calibration rows are NOT silently dropped —
    they stay in the denominator as uncovered (the model cannot
    predict them) and are counted in ``n_test_dropped``.  The
    quantile frame is collapsed to a guaranteed single row, so an
    empty calibration half yields one row of NULL q_hat rather than
    zero rows.  Output: one row (n_calib, n_test, n_test_dropped,
    q_hat, coverage)."""
    from csp_gateway_spark.plans.scale import global_row_number

    g = F.col(group_col) if isinstance(group_col, str) else group_col
    y2 = (F.lit(2).cast("decimal(2,0)") * F.col(value_col).cast("decimal(18,2)")).cast(
        "decimal(19,2)"
    )
    base = df.select(
        F.col(id_col).alias("_id"), g.alias("_g"), y2.alias("_y2"),
        F.pmod(_hash28(F.col(id_col), F.lit(0)), F.lit(2)).alias("_half"),
    ).localCheckpoint(eager=False)
    med = base.filter(F.col("_half") == 0).groupBy("_g").agg(
        F.percentile(F.col("_y2").cast("double"), F.lit(0.5)).alias("_m2")
    )
    # LEFT join: calibration rows always find their own group's median
    # (it was built from them), but a test row whose group never hit
    # the calibration half keeps a NULL residual instead of vanishing
    resid = base.join(F.broadcast(med), "_g", "left").select(
        "_half",
        F.abs(
            F.col("_y2") - F.col("_m2").cast("decimal(19,2)")
        ).alias("_r2"),
    ).localCheckpoint(eager=False)
    calib = resid.filter(F.col("_half") == 0)
    per_val = calib.groupBy(F.col("_r2").alias("_v")).agg(
        F.count(F.lit(1)).cast("decimal(18,0)").alias("_c")
    )
    ranked = global_row_number(
        per_val, "_v", [], rn_col="_rn", cum_value="_c", cum_col="_cum",
        small_threshold=TARGET_ROWS_PER_BUCKET,
    )
    n_cal = ranked.agg(F.max(F.col("_cum").cast("long")).alias("_nc"))
    # k = ⌈(n+1)(1−α)⌉ as exact integer arithmetic on the DECIMAL
    # rational the caller wrote (Fraction('0.1') = 1/10; the binary
    # float would make (n+1)·(1−α) land ε above exact integers and
    # shift k by one whenever (n+1)(1−α) is integral)
    from fractions import Fraction

    fr = Fraction(1) - Fraction(str(alpha))
    num, den = fr.numerator, fr.denominator
    k = F.ceil(
        (F.col("_nc") + F.lit(1)).cast("decimal(20,0)")
        * F.lit(num).cast("decimal(20,0)")
        / F.lit(den).cast("decimal(20,0)")
    ).cast("decimal(20,0)")
    qrow = (
        ranked.crossJoin(F.broadcast(n_cal))
        .filter(
            (F.col("_cum") >= k)
            & ((F.col("_cum") - F.col("_c")) < k)
        )
        .select(F.col("_v").alias("_q2"), F.col("_nc"))
    )
    # collapse to EXACTLY one row (agg over an empty frame still
    # yields a row of NULLs) so an empty calibration half surfaces as
    # NULL q_hat, never as zero output rows
    qone = qrow.agg(F.max("_q2").alias("_q2"), F.max("_nc").alias("_nc"))
    test = resid.filter(F.col("_half") == 1)
    # NULL residual (group unseen in calibration): `_r2 <= _q2` is
    # NULL → excluded from the covered sum but kept in the
    # denominator — coverage is honest over ALL test rows
    cov = test.crossJoin(F.broadcast(qone)).agg(
        F.count(F.lit(1)).alias("_nt"),
        F.sum((F.col("_r2") <= F.col("_q2")).cast("long")).alias("_in"),
        F.sum(F.col("_r2").isNull().cast("long")).alias("_drop"),
        F.max("_q2").alias("_q2"),
        F.max("_nc").alias("_nc"),
    )
    return cov.select(
        F.col("_nc").cast("long").alias("n_calib"),
        F.col("_nt").cast("long").alias("n_test"),
        F.coalesce(F.col("_drop"), F.lit(0)).cast("long").alias("n_test_dropped"),
        (F.col("_q2").cast("double") / F.lit(2.0)).alias("q_hat"),
        (
            F.coalesce(F.col("_in"), F.lit(0)).cast("double")
            / F.col("_nt").cast("double")
        ).alias("coverage"),
    )


# ---------------------------------------------------------------------------
# WAVE 29 (round 11) — post-hoc pairwise comparison / competing risks
# ---------------------------------------------------------------------------


def tukey_hsd(df: DataFrame, group_col, value_col: str) -> DataFrame:
    """Tukey-Kramer honestly-significant-difference table: for every
    group pair, the mean difference and the studentized-range
    statistic q = |x̄ᵢ − x̄ⱼ| / √(MSW/2·(1/nᵢ + 1/nⱼ)) — the post-hoc
    step after :func:`anova_f` says "some group differs" (HSD says
    WHICH pairs, with family-wise error control).

    One grouped scan of exact decimal moments; MSW folds the
    k-bounded S²/n terms group-sorted (the ``anova_f`` discipline);
    the pair table is a broadcast self-join of the k-row group frame
    (k² bounded pairs).  Output per pair (g_a < g_b):
    (g_a, g_b, n_a, n_b, diff, q)."""
    g = F.col(group_col) if isinstance(group_col, str) else group_col
    y = F.col(value_col).cast("decimal(18,2)")
    per = df.groupBy(g.alias("_g")).agg(
        F.count(F.lit(1)).alias("_ng"),
        F.sum(y).cast("decimal(38,2)").alias("_sg"),
        F.sum((y.cast("decimal(19,2)") * y.cast("decimal(19,2)")).cast("decimal(38,4)")).alias("_ssg"),
    ).localCheckpoint(eager=False)
    term = (
        F.col("_sg").cast("double")
        * F.col("_sg").cast("double")
        / F.col("_ng").cast("double")
    )
    msw_row = per.select("_g", "_ng", "_ssg", term.alias("_term")).agg(
        _capped_packed(
            F.array_sort(F.collect_list(F.struct("_g", "_term"))), "tukey_hsd"
        ).alias("_z"),
        F.sum("_ng").alias("_n"),
        F.sum("_ssg").alias("_ss"),
        F.count(F.lit(1)).alias("_k"),
    )
    between = F.aggregate(
        F.transform(F.col("_z"), lambda s: s["_term"]),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    msw = (F.col("_ss").cast("double") - between) / (
        F.col("_n").cast("double") - F.col("_k").cast("double")
    )
    stats = msw_row.select(msw.alias("_msw"))
    right = per.select(
        F.col("_g").alias("_gb"), F.col("_ng").alias("_nb"), F.col("_sg").alias("_sb")
    )
    pairs = per.join(F.broadcast(right), F.col("_g") < F.col("_gb")).crossJoin(
        F.broadcast(stats)
    )
    mean_a = F.col("_sg").cast("double") / F.col("_ng").cast("double")
    mean_b = F.col("_sb").cast("double") / F.col("_nb").cast("double")
    diff = mean_a - mean_b
    se = F.sqrt(
        F.col("_msw")
        / F.lit(2.0)
        * (
            F.lit(1.0) / F.col("_ng").cast("double")
            + F.lit(1.0) / F.col("_nb").cast("double")
        )
    )
    q = F.when(se > 0, F.abs(diff) / se)
    return pairs.select(
        F.col("_g").alias("g_a"),
        F.col("_gb").alias("g_b"),
        F.col("_ng").cast("long").alias("n_a"),
        F.col("_nb").cast("long").alias("n_b"),
        diff.alias("diff"),
        q.alias("q"),
    )


def cumulative_incidence(
    df: DataFrame,
    duration_col,
    type_col,
    type_1,
    type_2,
) -> DataFrame:
    """Competing-risks cumulative incidence (Aalen-Johansen for two
    event types): CIF_k(t) = Σ_{s ≤ t} S(s⁻)·d_k(s)/n(s), with S the
    overall Kaplan-Meier survival of EITHER event — the right answer
    when "returned" and "delivered" compete (naive 1−KM per cause
    overstates both).  Rows whose type is neither ``type_1`` nor
    ``type_2`` are right-censored.

    Same scale shape as :func:`kaplan_meier`: one duration collapse
    carrying (d₁, d₂, n) per step, at-risk counts from the reverse
    running sum, and ONE blocked O(n·√n) left-to-right scan whose
    running state is (at-risk, S, CIF₁, CIF₂) — FP order pinned, so
    both curves are engine-identical (oracle mirror: a recursive CTE
    stepping the same expressions).  Output per event step:
    (t, n_risk, d1, d2, cif1, cif2)."""
    dur = F.col(duration_col) if isinstance(duration_col, str) else duration_col
    ty = F.col(type_col) if isinstance(type_col, str) else type_col
    steps = df.groupBy(dur.cast("long").alias("_t")).agg(
        F.sum((ty == type_1).cast("long")).alias("_d1"),
        F.sum((ty == type_2).cast("long")).alias("_d2"),
        F.count(F.lit(1)).alias("_n"),
    )
    packed = steps.agg(
        _capped_packed(
            F.array_sort(F.collect_list(F.struct("_t", "_d1", "_d2", "_n"))),
            "cumulative_incidence",
        ).alias("_s")
    )
    total = F.aggregate(
        F.col("_s"), F.lit(0).cast("long"), lambda a, s: a + s["_n"]
    )
    row_t = T.StructType(
        [
            T.StructField("t", T.LongType()),
            T.StructField("n_risk", T.LongType()),
            T.StructField("d1", T.LongType()),
            T.StructField("d2", T.LongType()),
            T.StructField("cif1", T.DoubleType()),
            T.StructField("cif2", T.DoubleType()),
        ]
    )
    run_t = T.StructType(
        [
            T.StructField("surv", T.DoubleType()),
            T.StructField("c1", T.DoubleType()),
            T.StructField("c2", T.DoubleType()),
        ]
    )

    def scan(acc, s):
        r = acc["rem"].cast("double")
        c1 = acc["run"]["c1"] + acc["run"]["surv"] * s["_d1"].cast("double") / r
        c2 = acc["run"]["c2"] + acc["run"]["surv"] * s["_d2"].cast("double") / r
        surv = acc["run"]["surv"] * (
            F.lit(1.0) - (s["_d1"] + s["_d2"]).cast("double") / r
        )
        return F.struct(
            F.concat(
                acc["rows"],
                F.array(
                    F.struct(
                        s["_t"].alias("t"),
                        acc["rem"].alias("n_risk"),
                        s["_d1"].alias("d1"),
                        s["_d2"].alias("d2"),
                        c1.alias("cif1"),
                        c2.alias("cif2"),
                    )
                ),
            ).alias("rows"),
            (acc["rem"] - s["_n"]).alias("rem"),
            F.struct(surv.alias("surv"), c1.alias("c1"), c2.alias("c2")).alias("run"),
        )

    folded = packed.select(
        _blocked_append_scan(
            F.col("_s"),
            row_t,
            total,
            F.struct(
                F.lit(1.0).alias("surv"), F.lit(0.0).alias("c1"), F.lit(0.0).alias("c2")
            ).cast(run_t),
            scan,
        )["rows"].alias("_r")
    )
    out = folded.select(F.explode("_r").alias("_e")).select(
        F.col("_e.t").alias("t"),
        F.col("_e.n_risk").alias("n_risk"),
        F.col("_e.d1").alias("d1"),
        F.col("_e.d2").alias("d2"),
        F.col("_e.cif1").alias("cif1"),
        F.col("_e.cif2").alias("cif2"),
    )
    return out.filter((F.col("d1") + F.col("d2")) > 0)


# ---------------------------------------------------------------------------
# WAVE 30 (round 12) — robust nonparametrics + forecast backtesting.
# Same exactness discipline as waves 23-29: distinct-value collapses,
# packed two-phase cumulatives (no unpartitioned window), exact decimal
# integer moments, doubles only in the final closed form mirrored by
# the DuckDB oracle.
# ---------------------------------------------------------------------------


def mood_median(
    df: DataFrame,
    group_col,
    value_col: str,
) -> DataFrame:
    """Mood's median test across k groups: dichotomize every row at
    the GRAND lower median (ties at the median count as "≤", the
    deterministic convention both engines share — no interpolated
    median, so the cut value is an exact order statistic) and
    chi-square the resulting 2×k table — the k-sample "are the
    medians equal" screen that, unlike Kruskal-Wallis, is insensitive
    to tail shape.

    One distinct-value collapse + ONE packed cumulative finds the
    median cell (the ``conformal_interval`` order-statistic shape);
    one grouped aggregate builds the k-bounded 2×k table; χ² folds
    over the group-sorted packed array (``_capped_packed`` guard) so
    the double sum has ONE deterministic order on any partitioning.
    Output: one row (n, k, median, chi2, df)."""
    from csp_gateway_spark.plans.scale import global_row_number

    g = F.col(group_col) if isinstance(group_col, str) else group_col
    base = df.select(
        g.cast("string").alias("_g"), F.col(value_col).alias("_v")
    ).filter(F.col("_v").isNotNull())
    per_val = base.groupBy("_v").agg(
        F.count(F.lit(1)).cast("decimal(18,0)").alias("_c")
    )
    ranked = global_row_number(
        per_val, "_v", [], rn_col="_rn", cum_value="_c", cum_col="_cum",
        small_threshold=TARGET_ROWS_PER_BUCKET,
    )
    n_tot = ranked.agg(F.max(F.col("_cum").cast("long")).alias("_n"))
    # lower median rank ⌈n/2⌉ in exact integer arithmetic
    k_med = F.ceil(F.col("_n").cast("decimal(20,0)") / F.lit(2).cast("decimal(2,0)")).cast(
        "decimal(20,0)"
    )
    med = (
        ranked.crossJoin(F.broadcast(n_tot))
        .filter((F.col("_cum") >= k_med) & ((F.col("_cum") - F.col("_c")) < k_med))
        .select(F.col("_v").alias("_med"))
    )
    per_group = (
        base.crossJoin(F.broadcast(med))
        .groupBy("_g")
        .agg(
            F.count(F.lit(1)).cast("long").alias("_ng"),
            F.sum((F.col("_v") > F.col("_med")).cast("long")).alias("_ab"),
            F.max("_med").alias("_med"),
        )
    )
    packed = per_group.agg(
        _capped_packed(
            F.array_sort(F.collect_list(F.struct("_g", "_ng", "_ab"))),
            "mood_median",
        ).alias("_z"),
        F.sum("_ng").alias("_n"),
        F.sum("_ab").alias("_ma"),
        F.count(F.lit(1)).cast("long").alias("_k"),
        F.max("_med").cast("double").alias("_medd"),
    )
    n = F.col("_n").cast("double")
    ma = F.col("_ma").cast("double")  # total above
    mb = n - ma  # total at-or-below
    def _cell(o, e):
        # (O−E)²/E with an explicit multiply — pow(x, 2) is not
        # guaranteed bit-identical across engines
        return (o - e) * (o - e) / e

    chi2 = F.aggregate(
        F.col("_z"),
        F.lit(0.0),
        lambda acc, s: acc
        + _cell(s["_ab"].cast("double"), s["_ng"].cast("double") * ma / n)
        + _cell(
            (s["_ng"] - s["_ab"]).cast("double"),
            s["_ng"].cast("double") * mb / n,
        ),
    )
    return _finalize_bounded(
        packed.select(
            F.col("_n").alias("n"),
            F.col("_k").alias("k"),
            F.col("_medd").alias("median"),
            F.when((F.col("_ma") > 0) & (F.col("_ma") < F.col("_n")), chi2).alias(
                "chi2"
            ),
            (F.col("_k") - F.lit(1)).cast("long").alias("df"),
        )
    )


def brunner_munzel(
    df: DataFrame,
    group_col,
    value_col: str,
    group_a,
    group_b,
    cells: Optional[DataFrame] = None,
    cells_count: Optional[int] = None,
) -> DataFrame:
    """Brunner-Munzel test between two cohorts: the rank-based
    "stochastic superiority" test that, unlike Mann-Whitney, stays
    valid when the two samples have different variances/shapes
    (the Behrens-Fisher situation).  Reports the common-language
    effect p̂ = P(X_a < X_b) + ½P(X_a = X_b), the studentized W, and
    the Satterthwaite df — scipy.stats.brunnermunzel's formulas.

    Over :func:`_rank_cells`, each cell has its combined doubled
    midrank r2 and its within-cohort doubled midranks 2·m − c + 1;
    every moment — Σ2R per cohort and the rank-variance terms Σc·d,
    Σc·d² with d = 2R − 2R^(within) — accumulates as an exact decimal
    integer.  Only the final p̂/W/df are doubles, identical
    expressions on both engines.  Output: one row (n_a, n_b, p_hat,
    w, df).

    ``cells``/``cells_count``: see :func:`ks_test` — the shared
    two-cohort collapse injection (r14)."""
    ranked, _, _ = _rank_cells(
        df, group_col, value_col, [group_a, group_b], cells, cells_count
    )
    # the within rank of a cell is only meaningful where that cohort
    # has rows there
    r2 = F.col("_r2")
    r2a = F.lit(2) * F.col("_m0") - F.col("_c0") + F.lit(1)
    r2b = F.lit(2) * F.col("_m1") - F.col("_c1") + F.lit(1)
    da = (r2 - r2a).cast("decimal(13,0)")  # ≤ 2N: 13 digits at N ≤ 1e12
    db = (r2 - r2b).cast("decimal(13,0)")
    ca13 = F.col("_c0").cast("decimal(13,0)")
    cb13 = F.col("_c1").cast("decimal(13,0)")
    sums = ranked.agg(
        F.sum("_c0").cast("long").alias("_na"),
        F.sum("_c1").cast("long").alias("_nb"),
        F.sum((ca13 * r2.cast("decimal(20,0)")).cast("decimal(38,0)")).alias("_s2ra"),
        F.sum((cb13 * r2.cast("decimal(20,0)")).cast("decimal(38,0)")).alias("_s2rb"),
        F.sum((ca13 * da).cast("decimal(38,0)")).alias("_sda"),
        F.sum((cb13 * db).cast("decimal(38,0)")).alias("_sdb"),
        F.sum((ca13 * (da * da).cast("decimal(27,0)")).cast("decimal(38,0)")).alias("_sda2"),
        F.sum((cb13 * (db * db).cast("decimal(27,0)")).cast("decimal(38,0)")).alias("_sdb2"),
    )
    na = F.col("_na").cast("double")
    nb = F.col("_nb").cast("double")
    rma = F.col("_s2ra").cast("double") / (F.lit(2.0) * na)
    rmb = F.col("_s2rb").cast("double") / (F.lit(2.0) * nb)
    # S² of (R − R_within) per cohort from the doubled-rank moments:
    # Var terms divide by 4 exactly once
    s2a = (
        (F.col("_sda2").cast("double") - F.col("_sda").cast("double")
         * F.col("_sda").cast("double") / na)
        / (F.lit(4.0) * (na - F.lit(1.0)))
    )
    s2b = (
        (F.col("_sdb2").cast("double") - F.col("_sdb").cast("double")
         * F.col("_sdb").cast("double") / nb)
        / (F.lit(4.0) * (nb - F.lit(1.0)))
    )
    p_hat = (rmb - (nb + F.lit(1.0)) / F.lit(2.0)) / na
    pooled = na * s2a + nb * s2b
    w = F.when(
        pooled > 0,
        na * nb * (rmb - rma) / (na + nb) / F.sqrt(pooled),
    )
    dof = F.when(
        pooled > 0,
        (pooled * pooled)
        / (
            (na * s2a) * (na * s2a) / (na - F.lit(1.0))
            + (nb * s2b) * (nb * s2b) / (nb - F.lit(1.0))
        ),
    )
    return _finalize_bounded(
        sums.select(
            F.col("_na").alias("n_a"),
            F.col("_nb").alias("n_b"),
            p_hat.alias("p_hat"),
            w.alias("w"),
            dof.alias("df"),
        )
    )


def theil_sen_slope(
    series: DataFrame,
    key_col: str,
    value_col: str,
    max_pairs: int = 8_000_000,
    probe_buckets: int = 1024,
    refine_cap: int = 65536,
) -> DataFrame:
    """Theil-Sen robust trend: the median of all pairwise slopes
    (y_j − y_i)/(x_j − x_i) over x_j > x_i — the outlier-immune
    regression slope (breakdown point 29%) for a daily metric where
    one bad day wrecks OLS.

    The pair space is bounded by contract (``max_pairs`` — the series
    must be collapsed to one (x, y) cell per key upstream; the point
    count is known before any pair materializes, so the bound raises
    in Python with the aggregate-first message).  The median is TWO
    order statistics (lower/upper, averaged), found by ITERATIVE
    probe refinement — a distributed log-depth selection: each level
    range-buckets the surviving slopes into ``probe_buckets`` ranges
    (one map-combined count job, ≤ ``probe_buckets`` driver rows),
    the driver keeps only the bucket(s) spanning the two target
    ranks, and the next level re-buckets inside them.  Heavy-tailed
    slope ranges (adjacent-day pairs make the linear split put ~all
    mass in one bucket) just cost another ~1 s level instead of a
    single-task window over millions of cells (which measured 10+ s).
    The pair fan-out itself is whole-stage codegen over an in-memory
    broadcast (~0.7 s/pass) and is deliberately never materialized.
    Filters compose the exact bucket EXPRESSIONS, so double rounding
    can never misplace a value across a level; local rank + exact
    driver offsets reproduce the exact global order statistic.
    Slopes are IEEE doubles, identical subtract-then-divide on both
    engines.  Output: one row (n_points, n_pairs, slope)."""
    from pyspark.sql import Window

    base = (
        series.select(
            F.col(key_col).cast("long").alias("_x"),
            F.col(value_col).cast("decimal(18,2)").alias("_y"),
        )
        .filter(F.col("_x").isNotNull() & F.col("_y").isNotNull())
        .localCheckpoint(eager=True)
    )
    # one-(x, y)-cell-per-key is the contract the rank arithmetic
    # rests on (n_pairs counts x2 > x pairs; duplicate keys would make
    # the target ranks exceed the real x2 > x slope population and
    # surface as an opaque probe assertion) — validate it up front
    # with the same aggregate-first message the pair cap uses
    head = base.agg(
        F.count(F.lit(1)).alias("_n"), F.count_distinct("_x").alias("_nd")
    ).collect()[0]
    n_points = int(head["_n"])
    if int(head["_nd"]) != n_points:
        raise ValueError(
            "theil_sen_slope: duplicate x keys "
            f"({n_points - int(head['_nd'])} collisions) — aggregate the "
            "series to one (x, y) cell per key first"
        )
    n_pairs = n_points * (n_points - 1) // 2
    spark = series.sparkSession
    if n_pairs > max_pairs:
        raise ValueError(
            f"theil_sen_slope: pair space {n_pairs} exceeds "
            f"max_pairs={max_pairs} — aggregate the series first"
        )
    if n_pairs == 0:
        return spark.createDataFrame(
            [(n_points, 0, None)], "n_points long, n_pairs long, slope double"
        )
    right = base.select(F.col("_x").alias("_x2"), F.col("_y").alias("_y2"))
    # the collapsed series is tiny, so AQE leaves it on ONE partition —
    # but the pair fan-out multiplies it by n/2; spread the LEFT side
    # first so every O(n²) pass runs scan-parallel
    # x2 > x rides the JOIN CONDITION, and the division is try_divide:
    # downstream probe filters on _s get pushed into the join's
    # conjuncts, whose evaluation ORDER is arbitrary — under ANSI mode
    # a plain `/` evaluated on an x2 == x pair is a division-by-zero
    # error even though the pair is about to be dropped.  try_divide
    # is value-identical on every surviving row (x2 > x ⇒ nonzero
    # divisor ⇒ the same IEEE division).
    slopes = base.repartition(F.col("_x")).join(
        F.broadcast(right), on=F.col("_x2") > F.col("_x"), how="inner"
    ).select(
        F.try_divide(
            (F.col("_y2") - F.col("_y")).cast("double"),
            (F.col("_x2") - F.col("_x")).cast("double"),
        ).alias("_s")
    )
    # Materialize the slope population ONCE (round 14, VERDICT r13
    # ask #3): every probe level plus the resolution pass scans
    # ``slopes``; un-checkpointed, each of those ~4 jobs re-runs the
    # O(n²) fan-out (~0.7 s/pass at sf0.1).  The frame is bounded by
    # the max_pairs contract checked above (≤ 8M doubles ≈ 64 MB),
    # so this is a bounded intermediate, not an unbounded spill.
    slopes = slopes.localCheckpoint(eager=True)
    got = probe_order_stats(
        slopes, "_s",
        {"lo": (n_pairs + n_pairs % 2) // 2, "hi": (n_pairs - n_pairs % 2) // 2 + 1},
        probe_buckets=probe_buckets, refine_cap=refine_cap,
    )
    return spark.createDataFrame(
        [(n_points, n_pairs, (got["lo"] + got["hi"]) / 2.0)],
        "n_points long, n_pairs long, slope double",
    )


def probe_order_stats(
    values: DataFrame,
    col: str,
    ranks: dict,
    probe_buckets: int = 1024,
    refine_cap: int = 65536,
    max_levels: int = 12,
) -> dict:
    """EXACT order statistics at known global ranks without ranking
    the frame — a distributed log-depth selection (the shared engine
    under :func:`theil_sen_slope`, :func:`quantiles_probe` and
    :func:`iqr_outliers`).

    ``ranks`` maps name → 1-based global rank over ``values[col]``
    ascending (the caller knows the total, e.g. from a count).  Each
    level runs ONE map-combined job: every still-unresolved region
    range-buckets its rows into ``probe_buckets`` sub-ranges (a single
    chained-CASE projection tags (region, bucket), so k simultaneous
    quantiles still cost one pass), the driver keeps only the buckets
    containing target ranks, and regions at or below ``refine_cap``
    rows stop refining.  The final pass groups the surviving regions'
    cells and reads the boundary values under a REGION-partitioned
    window with exact driver offsets — no unpartitioned window, no
    full-frame sort.  Region membership composes the exact bucket
    EXPRESSIONS, so double rounding can never misplace a value across
    levels.  Driver state is bounded: ≤ probe_buckets·regions count
    rows per level, ≤ len(ranks) result rows.

    Round 14 (VERDICT r13 ask #3): buckets split a SIGNED-LOG axis
    ``sign(v)·log1p(|v|)`` over the observed transformed [min, max]
    instead of a linear split of the raw range.  The transform is
    monotonic, so rank arithmetic is unchanged, and exactness never
    depended on where the boundaries fall (filters compose the bucket
    expressions).  The win is heavy-tailed inputs — pairwise slopes,
    where a few adjacent-x pairs blow the raw range so wide that the
    linear split put ~all mass in one bucket and each extra level cost
    a full re-evaluation of the O(n²) fan-out (~1 s) — now spread
    across the log grid and resolve in 1-2 levels in the common case.
    Returns name → float value."""
    from pyspark.sql import Window

    p = int(probe_buckets)
    t_expr = F.signum(F.col(col)) * F.log1p(F.abs(F.col(col)))
    stats = values.agg(
        F.min(t_expr).alias("_mn"), F.max(t_expr).alias("_mx")
    ).collect()[0]
    if stats["_mn"] is None:
        raise ValueError("probe_order_stats: empty input")
    # region: (filter_expr|None, lo_t, hi_t, base_off, {name: rank}, n_rows|None)
    regions = [
        (None, float(stats["_mn"]), float(stats["_mx"]), 0, dict(ranks), None)
    ]
    final_regions = []
    for level in range(max_levels):
        live = []
        for r in regions:
            # NOTE: membership tests would invoke Column.__eq__ on the
            # filter expression — partition explicitly instead
            if (r[5] is None or r[5] > int(refine_cap)) and r[2] > r[1]:
                live.append(r)
            else:
                final_regions.append(r)
        if not live:
            regions = []
            break
        tag = None
        bexprs = []
        for i, (filt, lo_v, hi_v, _off, _rks, _n) in enumerate(live):
            span = hi_v - lo_v
            bexpr = F.least(
                F.lit(p - 1),
                F.greatest(
                    F.lit(0),
                    F.floor(
                        (t_expr - F.lit(lo_v)) / F.lit(span) * F.lit(p)
                    ).cast("int"),
                ),
            )
            bexprs.append(bexpr)
            t = F.struct(F.lit(i).alias("_ri"), bexpr.alias("_pb"))
            cond = filt if filt is not None else F.col(col).isNotNull()
            tag = F.when(cond, t) if tag is None else tag.when(cond, t)
        counts = (
            values.select(tag.alias("_t"))
            .filter(F.col("_t").isNotNull())
            .groupBy(F.col("_t._ri").alias("_ri"), F.col("_t._pb").alias("_pb"))
            .agg(F.count(F.lit(1)).alias("_c"))
            .collect()
        )
        if level == 0 and not counts:
            raise ValueError("probe_order_stats: empty input")
        pc: dict = {}
        for r in counts:
            pc.setdefault(int(r["_ri"]), {})[int(r["_pb"])] = int(r["_c"])
        regions = []
        for i, (filt, lo_v, hi_v, base_off, rks, _n) in enumerate(live):
            span = hi_v - lo_v
            buckets = pc.get(i, {})
            offs: dict = {}
            acc = base_off
            for b in range(p):
                offs[b] = acc
                acc += buckets.get(b, 0)
            by_bucket: dict = {}
            for name, t in rks.items():
                for b in sorted(buckets):
                    if offs[b] < t <= offs[b] + buckets[b]:
                        by_bucket.setdefault(b, {})[name] = t
                        break
                else:
                    raise AssertionError("rank outside probed region")
            for b, sub in by_bucket.items():
                sub_filt = bexprs[i] == F.lit(b)
                if filt is not None:
                    sub_filt = filt & sub_filt
                regions.append(
                    (
                        sub_filt,
                        lo_v + b * span / p,
                        lo_v + (b + 1) * span / p,
                        offs[b],
                        sub,
                        buckets[b],
                    )
                )
    final_regions.extend(regions)
    # resolution pass: group each final region's cells, cumulate under
    # a REGION-partitioned window, read off the boundary values
    tag = None
    for i, (filt, _lo, _hi, _off, _rks, _n) in enumerate(final_regions):
        cond = filt if filt is not None else F.col(col).isNotNull()
        tag = F.when(cond, F.lit(i)) if tag is None else tag.when(cond, F.lit(i))
    cells = (
        values.select(tag.alias("_ri"), F.col(col).alias("_v"))
        .filter(F.col("_ri").isNotNull())
        .groupBy("_ri", "_v")
        .agg(F.count(F.lit(1)).cast("long").alias("_c"))
    )
    off_map = F.create_map(
        *[
            x
            for i, r in enumerate(final_regions)
            for x in (F.lit(i), F.lit(r[3]))
        ]
    )
    w = Window.partitionBy("_ri").orderBy("_v")
    ecdf = cells.select(
        "_ri",
        "_v",
        (off_map[F.col("_ri")] + F.sum("_c").over(w)).alias("_r_hi"),
        F.col("_c"),
    ).select("_ri", "_v", (F.col("_r_hi") - F.col("_c") + 1).alias("_r_lo"), "_r_hi")
    wanted = [
        (i, name, t)
        for i, r in enumerate(final_regions)
        for name, t in r[4].items()
    ]
    cond = None
    for i, _name, t in wanted:
        c = (
            (F.col("_ri") == i)
            & (F.lit(t) >= F.col("_r_lo"))
            & (F.lit(t) <= F.col("_r_hi"))
        )
        cond = c if cond is None else cond | c
    hits = ecdf.filter(cond).collect()  # bounded: ≤ len(ranks) cells
    out = {}
    for i, name, t in wanted:
        out[name] = next(
            float(h["_v"])
            for h in hits
            if int(h["_ri"]) == i and h["_r_lo"] <= t <= h["_r_hi"]
        )
    return out


def quantiles_probe(
    df: DataFrame,
    value_col: str,
    probs: Sequence[float] = (0.01, 0.25, 0.5, 0.75, 0.99),
    probe_buckets: int = 1024,
    refine_cap: int = 65536,
) -> DataFrame:
    """EXACT (type-1, lower order statistic — no interpolation)
    quantiles of a column at the given probabilities, computed by the
    :func:`probe_order_stats` log-depth selection: ~2-3 map-combined
    probe jobs for ALL requested quantiles together, never a full
    sort, never an unpartitioned cumulative over the distinct values
    (the profiling-report shape ``approx_percentile`` can't give you
    exactly and a global rank pays millions-of-cells windows for).
    Rank k_p = max(1, ⌈p·n⌉) in exact rational arithmetic
    (Fraction(str(p)) — a binary-float p·n would land ε above exact
    integers and shift k by one).  Output per prob: (prob, rank,
    value)."""
    from fractions import Fraction

    base = df.select(F.col(value_col).alias("_v")).filter(F.col("_v").isNotNull())
    n = base.count()
    spark = df.sparkSession
    if n == 0:
        return spark.createDataFrame([], "prob double, rank long, value double")
    ranks = {}
    for prob in probs:
        fr = Fraction(str(prob)) * n
        k = max(1, -(-fr.numerator // fr.denominator))  # exact ceil
        ranks[str(prob)] = k
    got = probe_order_stats(
        base, "_v", ranks, probe_buckets=probe_buckets, refine_cap=refine_cap
    )
    rows = [(float(p_), int(ranks[str(p_)]), got[str(p_)]) for p_ in probs]
    return spark.createDataFrame(rows, "prob double, rank long, value double")


def iqr_outliers(
    df: DataFrame,
    value_col: str,
    k: float = 1.5,
) -> DataFrame:
    """Tukey-fence outlier report: EXACT q1/q3 via
    :func:`quantiles_probe`'s selection, fences at q1 − k·IQR /
    q3 + k·IQR, and one scan-only aggregate counting the rows outside
    — the distribution-profiling gate a pipeline runs before trusting
    means.  Output: one row (n, q1, q3, iqr, lo_fence, hi_fence,
    n_low, n_high, outlier_share)."""
    from fractions import Fraction

    base = df.select(F.col(value_col).alias("_v")).filter(F.col("_v").isNotNull())
    base = base.localCheckpoint(eager=True)
    n = base.count()
    spark = df.sparkSession
    if n == 0:
        return spark.createDataFrame(
            [],
            "n long, q1 double, q3 double, iqr double, lo_fence double, "
            "hi_fence double, n_low long, n_high long, outlier_share double",
        )

    def _rank(p):
        fr = Fraction(str(p)) * n
        return max(1, -(-fr.numerator // fr.denominator))

    got = probe_order_stats(base, "_v", {"q1": _rank(0.25), "q3": _rank(0.75)})
    q1, q3 = got["q1"], got["q3"]
    iqr = q3 - q1
    lo_f, hi_f = q1 - k * iqr, q3 + k * iqr
    counts = base.agg(
        F.sum((F.col("_v") < F.lit(lo_f)).cast("long")).alias("_nl"),
        F.sum((F.col("_v") > F.lit(hi_f)).cast("long")).alias("_nh"),
    ).collect()[0]
    nl, nh = int(counts["_nl"]), int(counts["_nh"])
    return spark.createDataFrame(
        [(n, q1, q3, iqr, lo_f, hi_f, nl, nh, (nl + nh) / float(n))],
        "n long, q1 double, q3 double, iqr double, lo_fence double, "
        "hi_fence double, n_low long, n_high long, outlier_share double",
    )


def mase_backtest(
    series: DataFrame,
    key_col: str,
    value_col: str,
    season: int = 7,
    horizon: int = 14,
) -> DataFrame:
    """Seasonal-naive forecast backtest on an ordered series: hold out
    the last ``horizon`` points, forecast each as the last in-train
    value one whole season back (ŷ_{T+h} = y_{T+h−m·⌈h/m⌉}), and
    report MASE (mean |error| over the holdout divided by the
    in-train mean |seasonal difference| — Hyndman's scale-free
    yardstick; < 1 beats the naive forecaster) and sMAPE.

    The series collapses to one cell per key upstream; the fold runs
    over the key-sorted packed array (``_capped_packed`` guard — the
    ``jarque_bera`` single-row precedent), so every double
    accumulates in ONE pinned order and element_at indexing replaces
    any self-join.  Series too short to backtest (n ≤ horizon +
    season, i.e. no in-train point one season back from every
    holdout point) emit NULL mase AND NULL smape — both folds are
    gated behind the same ``train_n > season`` CASE branch, so no
    out-of-range element_at is ever evaluated (ANSI index-0 errors /
    silent negative-index wraparound).  Output: one row (n, train_n,
    horizon, mase, smape)."""
    m, h = int(season), int(horizon)
    if m < 1 or h < 1:
        raise ValueError(f"mase_backtest: season/horizon must be >= 1 (got {m}/{h})")
    base = series.select(
        F.col(key_col).cast("long").alias("_k"),
        F.col(value_col).cast("double").alias("_y"),
    )
    packed = base.agg(
        _capped_packed(
            F.array_sort(F.collect_list(F.struct("_k", "_y"))), "mase_backtest"
        ).alias("_z")
    )
    ys = F.transform(F.col("_z"), lambda s: s["_y"])
    n = F.size(ys)
    train_n = n - F.lit(h)
    # in-train seasonal-difference scale: Σ_{t=m+1..train_n} |y_t − y_{t−m}|
    scale_sum = F.aggregate(
        F.sequence(F.lit(m + 1), train_n),
        F.lit(0.0),
        lambda acc, t: acc
        + F.abs(F.element_at(ys, t) - F.element_at(ys, t - F.lit(m))),
    )
    scale = scale_sum / (train_n - F.lit(m)).cast("double")
    # holdout errors: ŷ_{train_n+j} = y at train_n + j − m·⌈j/m⌉
    fc_idx = lambda j: train_n + j - F.lit(m) * F.ceil(j.cast("double") / F.lit(float(m))).cast("int")  # noqa: E731
    err = F.aggregate(
        F.sequence(F.lit(1), F.lit(h)),
        F.struct(F.lit(0.0).alias("ae"), F.lit(0.0).alias("sm")),
        lambda acc, j: F.struct(
            (
                acc["ae"]
                + F.abs(
                    F.element_at(ys, train_n + j) - F.element_at(ys, fc_idx(j))
                )
            ).alias("ae"),
            (
                acc["sm"]
                + F.lit(2.0)
                * F.abs(F.element_at(ys, train_n + j) - F.element_at(ys, fc_idx(j)))
                / (
                    F.abs(F.element_at(ys, train_n + j))
                    + F.abs(F.element_at(ys, fc_idx(j)))
                )
            ).alias("sm"),
        ),
    )
    # train_n > m guards EVERY fold evaluation (CASE branches evaluate
    # lazily): with train_n <= m the scale fold's sequence(m+1, train_n)
    # runs BACKWARD (step -1) into element_at index <= 0 and the smape
    # fold's fc_idx hits 0 (ANSI error) or negatives (silent end-of-
    # array indexing) — short series must short-circuit to NULL before
    # either fold is touched.
    ok = train_n > F.lit(m)
    return _finalize_bounded(
        packed.select(
            n.cast("long").alias("n"),
            train_n.cast("long").alias("train_n"),
            F.lit(h).cast("long").alias("horizon"),
            F.when(
                ok, F.when(scale > 0, err["ae"] / F.lit(float(h)) / scale)
            ).alias("mase"),
            F.when(ok, err["sm"] / F.lit(float(h))).alias("smape"),
        )
    )


def ansari_bradley(
    df: DataFrame,
    group_col,
    value_col: str,
    group_a,
    group_b,
    cells: Optional[DataFrame] = None,
    cells_count: Optional[int] = None,
) -> DataFrame:
    """Ansari-Bradley scale test between two cohorts: are the two
    samples equally DISPERSED around a common median?  The rank-based
    completion of the family — :func:`mann_whitney_u` tests location,
    :func:`brunner_munzel` stochastic superiority, this tests spread —
    with the statistic A = Σ_{i∈a} min(Rᵢ, N+1−Rᵢ) (ranks scored from
    both ends, midrank ties) and the exact CONDITIONAL normal
    approximation: E[A] and Var[A] come from the observed score
    multiset via sampling-without-replacement moments, so ties need no
    special casing.

    Every moment is an exact decimal integer on the DOUBLED scores
    s₂(v) = min(r2, 2(N+1) − r2) over :func:`_rank_cells`.  Only the
    final A/z are doubles, identical expressions on both engines.
    Output: one row (n_a, n_b, ab_stat, z).

    ``cells``/``cells_count``: see :func:`ks_test` — the shared
    two-cohort collapse injection (r14)."""
    ranked, _, _ = _rank_cells(
        df, group_col, value_col, [group_a, group_b], cells, cells_count
    )
    r2 = F.col("_r2")
    s2 = F.least(r2, F.lit(2) * (F.col("_n0") + F.col("_n1") + F.lit(1)) - r2)
    ca13 = F.col("_c0").cast("decimal(13,0)")
    cc13 = F.col("_t").cast("decimal(13,0)")
    s13 = s2.cast("decimal(13,0)")
    sums = ranked.groupBy(
        F.col("_n0").alias("_na"), F.col("_n1").alias("_nb")
    ).agg(
        F.sum((ca13 * s13).cast("decimal(38,0)")).alias("_a2"),
        F.sum((cc13 * s13).cast("decimal(38,0)")).alias("_t2"),
        F.sum((cc13 * (s13 * s13).cast("decimal(27,0)")).cast("decimal(38,0)")).alias("_t2q"),
    )
    na = F.col("_na").cast("double")
    nb = F.col("_nb").cast("double")
    n = na + nb
    a_stat = F.col("_a2").cast("double") / F.lit(2.0)
    # sampling-without-replacement moments of Σ over n_a draws from the
    # observed score multiset (tie-exact, no parametric null):
    # E[A] = n_a·s̄, Var[A] = n_a·n_b·(N·Σs² − (Σs)²)/(N²(N−1))
    e_a = na * (F.col("_t2").cast("double") / F.lit(2.0)) / n
    var_a = (
        na * nb
        * (
            n * (F.col("_t2q").cast("double") / F.lit(4.0))
            - (F.col("_t2").cast("double") / F.lit(2.0))
            * (F.col("_t2").cast("double") / F.lit(2.0))
        )
        / (n * n * (n - F.lit(1.0)))
    )
    return _finalize_bounded(
        sums.select(
            F.col("_na").alias("n_a"),
            F.col("_nb").alias("n_b"),
            a_stat.alias("ab_stat"),
            F.when(var_a > 0, (a_stat - e_a) / F.sqrt(var_a)).alias("z"),
        )
    )


def jonckheere_terpstra(
    df: DataFrame,
    group_col,
    value_col: str,
    ordered_groups: Sequence,
    max_groups: int = 16,
) -> DataFrame:
    """Jonckheere-Terpstra test for an ORDERED alternative across k
    groups — "does the value tend to increase along this group
    ordering?" — the trend-aware upgrade of :func:`kruskal_wallis`
    (which only detects *some* difference).  J = Σ_{i<j} U_ij, the sum
    of Mann-Whitney counts over every ordered group pair, with midrank
    ties (equal pairs count ½); z comes from the exact tie-corrected
    null moments.

    Plan: U is additive over the lower cohort, so J = Σ_j U(pooled
    groups < j, group j) over the k per-group running counts of ONE
    :func:`_rank_cells` — one aggregate sums every pooled pass and the
    tie moments (three jobs: collapse, head, sums).
    ``ordered_groups`` is an explicit bounded contract (the ordering
    IS the hypothesis; ≤ ``max_groups`` keeps the pass count bounded).
    2J and every null-moment term are exact integers
    (2U = 2R_a − n_a(n_a+1); 4E[J] = N² − Σn_j² is always even, so 2E
    is integral too); only the final z divides, in the same
    expression shape on both engines.  Output: one row (n, k, jt2, z)
    with jt2 = 2J (exact; J itself may be a half).
    """
    groups = list(ordered_groups)
    k = len(groups)
    if k < 2 or k > max_groups:
        raise ValueError(
            f"jonckheere_terpstra: need 2..{max_groups} ordered groups, got {k}"
        )
    ranked, n_cells, n_j = _rank_cells(df, group_col, value_col, groups)
    spark = df.sparkSession
    if n_cells == 0:
        # empty after filtering (no rows in the ordered groups / all
        # values NULL): return the degenerate row (ADVICE r13)
        return spark.createDataFrame(
            [(0, k, 0, None)], "n long, k long, jt2 long, z double"
        )
    t = F.col("_t").cast("decimal(19,0)")
    one = F.lit(1).cast("decimal(2,0)")
    # tie-moment products at (12,0)·(12,0)→(25,0), ·(12,0)→(38,0) —
    # exactly the decimal cap, no precision adjustment on either
    # engine (tie groups ≤ 1e12 rows; the mann_whitney cube pattern)
    t12 = t.cast("decimal(12,0)")
    tt1 = (t12 * (t - one).cast("decimal(12,0)")).cast("decimal(25,0)")
    ties = [
        F.sum(
            tt1
            * (F.lit(2).cast("decimal(2,0)") * t + F.lit(5).cast("decimal(2,0)")).cast(
                "decimal(12,0)"
            )
        ).cast("decimal(38,0)").alias("_t25"),
        F.sum(
            tt1 * (t - F.lit(2).cast("decimal(2,0)")).cast("decimal(12,0)")
        ).cast("decimal(38,0)").alias("_t3"),
        F.sum(
            (t.cast("decimal(18,0)") * (t - one).cast("decimal(18,0)")).cast(
                "decimal(37,0)"
            )
        ).cast("decimal(38,0)").alias("_t2"),
    ]
    two_j = 0
    # pooled-pass terms: 2R_a(pass j) = Σ_cells ca_j·(2·below + cnt + 1)
    # with below = cum_pool − cnt over groups 0..j; counts/cums are
    # longs, products are cast to exact decimals only where they can
    # exceed int64
    pass_sums = []
    for j in range(1, k):
        ca = sum(F.col(f"_c{i}") for i in range(j)).cast("decimal(16,0)")
        cnt = sum(F.col(f"_c{i}") for i in range(j + 1))
        cum_pool = sum(F.col(f"_m{i}") for i in range(j + 1))
        below = (cum_pool - cnt).cast("decimal(20,0)")
        term = ca * (
            F.lit(2).cast("decimal(2,0)") * below
            + cnt.cast("decimal(20,0)")
            + F.lit(1).cast("decimal(2,0)")
        ).cast("decimal(20,0)")
        pass_sums.append(
            F.sum(term.cast("decimal(38,0)")).alias(f"_s2ra{j}")
        )
    got = ranked.agg(*pass_sums, *ties).collect()[0]
    for j in range(1, k):
        na, nb = sum(n_j[:j]), n_j[j]
        two_u = int(got[f"_s2ra{j}"]) - na * (na + 1)  # 2·U_a
        two_j += 2 * na * nb - two_u  # 2·(#(a<b) + ½#(a=b))
    big_n = sum(n_j)
    two_e = sum(
        n_j[i] * n_j[jj] for i in range(k) for jj in range(i + 1, k)
    )  # 2E[J] = Σ_{i<j} n_i n_j  (4E = N² − Σn² = 2·this)
    a_term = (
        big_n * (big_n - 1) * (2 * big_n + 5)
        - sum(nj * (nj - 1) * (2 * nj + 5) for nj in n_j)
        - int(got["_t25"])
    )
    b_term = sum(nj * (nj - 1) * (nj - 2) for nj in n_j) * int(got["_t3"])
    c_term = sum(nj * (nj - 1) for nj in n_j) * int(got["_t2"])
    z = None
    if big_n >= 3:
        var = (
            a_term / 72.0
            + b_term / (36.0 * big_n * (big_n - 1) * (big_n - 2))
            + c_term / (8.0 * big_n * (big_n - 1))
        )
        if var > 0:
            import math

            z = (two_j - two_e) / (2.0 * math.sqrt(var))
    return spark.createDataFrame(
        [(big_n, k, two_j, z)], "n long, k long, jt2 long, z double"
    )


def cochran_armitage(
    df: DataFrame,
    score_col,
    outcome_col,
    score_scale: int = 2,
) -> DataFrame:
    """Cochran-Armitage trend test: does a BINARY outcome's success
    rate trend linearly with an ordered numeric score (dose, bucket
    index, quantity)?  The categorical-trend sibling of
    :func:`jonckheere_terpstra` (which tests a continuous value
    against ordered groups; this tests a proportion against ordered
    scores).

        χ² = N·(N·T − R·S_w)² / (R·(N−R)·(N·S_w² − S_w·S_w))

    with T = Σ w over successes, S_w/S_w² the score sums — ONE
    map-side-combined aggregate over the raw rows (no collapse, no
    window, no shuffle beyond the 1-row agg).  Scores accumulate as
    exact decimals; the statistic is a closed form over five exact
    sums, identical on both engines.  z carries the trend's sign
    (positive = success rate rises with the score).  Output: one row
    (n, successes, z, chi2).

    SCORE QUANTIZATION CONTRACT (ADVICE r13): scores are cast to
    ``decimal(18, score_scale)`` — default 2 decimal places — BEFORE
    the sums, so finer-grained doses (0.001 increments) are rounded
    and would shift z/χ² silently.  Pass a larger ``score_scale``
    (≤ 16) for finer scores; the exact-decimal bound then becomes
    |score| < 10^(18−score_scale).  ``score_col``/``outcome_col``
    accept a name or a Column (the jonckheere group_col pattern)."""
    if not (0 <= int(score_scale) <= 16):
        raise ValueError("cochran_armitage: score_scale must be in 0..16")
    sdt = f"decimal(18,{int(score_scale)})"
    w = (
        F.col(score_col) if isinstance(score_col, str) else score_col
    ).cast(sdt)
    y = F.col(outcome_col) if isinstance(outcome_col, str) else outcome_col
    base = df.filter(w.isNotNull() & y.isNotNull()).select(
        w.alias("_w"), y.cast("int").alias("_y")
    )
    sums = base.agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.sum("_y").cast("long").alias("_r"),
        F.sum("_w").cast(f"decimal(38,{int(score_scale)})").alias("_sw"),
        F.sum(
            (F.col("_w").cast(sdt) * F.col("_w").cast(sdt)).cast(
                f"decimal(38,{2 * int(score_scale)})"
            )
        ).alias("_sw2"),
        F.sum(F.when(F.col("_y") == 1, F.col("_w")).otherwise(F.lit(0).cast(sdt)))
        .cast(f"decimal(38,{int(score_scale)})")
        .alias("_t"),
    )
    n = F.col("_n").cast("double")
    r = F.col("_r").cast("double")
    sw = F.col("_sw").cast("double")
    sw2 = F.col("_sw2").cast("double")
    tt = F.col("_t").cast("double")
    num = n * tt - r * sw
    den = r * (n - r) * (n * sw2 - sw * sw)
    chi2 = F.when(den > 0, n * num * num / den)
    z = F.when(
        den > 0,
        F.signum(num) * F.sqrt(n * num * num / den),
    )
    return _finalize_bounded(
        sums.select(
            F.col("_n").alias("n"),
            F.col("_r").alias("successes"),
            z.alias("z"),
            chi2.alias("chi2"),
        )
    )


def ordinal_association(
    df: DataFrame,
    col_a: str,
    col_b: str,
    max_cells: int = 2_000_000,
) -> DataFrame:
    """Goodman-Kruskal γ and both Somers' D asymmetries between two
    ORDINAL columns — the effect-size companions of
    :func:`kendall_tau` (γ ignores ties entirely; Somers' D_ba
    penalizes pairs tied on the PREDICTOR a, the standard
    "concordance of outcome b given a" — the statistic behind the
    c-index).

    Same scale plan as :func:`kendall_tau`: the O(n²) pair space
    never materializes — one hash aggregate collapses to the joint
    frequency table f(a,b), and concordant/discordant counts come
    from the broadcast CELL self-join (quadratic only in DISTINCT
    cells, bounded by the ``max_cells`` contract; ordinal columns are
    low-cardinality by definition — quantize first if not).  All
    pair counts are exact decimal integers; the three ratios are one
    closed-form double each:

      γ     = (C−D)/(C+D)
      D_ba  = (C−D)/(n0−n1)   (pairs not tied on a — predict b from a)
      D_ab  = (C−D)/(n0−n2)   (pairs not tied on b)

    with n0 = n(n−1)/2, n1 = Σ_a t_a(t_a−1)/2, n2 = Σ_b t_b(t_b−1)/2.
    Output: one row (n, concordant, discordant, gamma, somers_ba,
    somers_ab)."""
    cells = df.filter(
        F.col(col_a).isNotNull() & F.col(col_b).isNotNull()
    ).groupBy(
        F.col(col_a).alias("_a"), F.col(col_b).alias("_b")
    ).agg(F.count(F.lit(1)).alias("_f"))
    ncells = cells.agg(F.count(F.lit(1)).alias("_nc"))
    guard_msg = F.concat(
        F.lit(
            f"ordinal_association: joint cell table exceeds max_cells={max_cells} (got "
        ),
        F.col("_nc").cast("string"),
        F.lit(") — the cell self-join is only valid for distinct-bounded ordinals; quantize first"),
    )
    # guard folded into the USED frequency column (kendall_tau
    # pattern — a standalone guarded column would be pruned away)
    cells = cells.crossJoin(F.broadcast(ncells)).select(
        "_a",
        "_b",
        F.when(F.col("_nc") > F.lit(max_cells), F.raise_error(guard_msg))
        .otherwise(F.col("_f"))
        .alias("_f"),
    )
    right = cells.select(
        F.col("_a").alias("_a2"), F.col("_b").alias("_b2"), F.col("_f").alias("_f2")
    )
    ff = (F.col("_f").cast("decimal(19,0)") * F.col("_f2").cast("decimal(19,0)")).cast(
        "decimal(38,0)"
    )
    pair_counts = (
        cells.join(F.broadcast(right), F.col("_a2") < F.col("_a"))
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("_b2") < F.col("_b"), ff)),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("_c"),
            F.coalesce(
                F.sum(F.when(F.col("_b2") > F.col("_b"), ff)),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("_d"),
        )
    )
    ta = F.col("_t").cast("decimal(19,0)")
    tie_a = (
        cells.groupBy("_a")
        .agg(F.sum("_f").alias("_t"))
        .agg(
            F.sum((ta * (ta - F.lit(1).cast("decimal(2,0)"))).cast("decimal(38,0)")).alias("_2n1"),
            F.sum(F.col("_t").cast("decimal(38,0)")).alias("_n"),
        )
    )
    tie_b = (
        cells.groupBy("_b")
        .agg(F.sum("_f").alias("_t"))
        .agg(F.sum((ta * (ta - F.lit(1).cast("decimal(2,0)"))).cast("decimal(38,0)")).alias("_2n2"))
    )
    one = pair_counts.crossJoin(F.broadcast(tie_a)).crossJoin(F.broadcast(tie_b))
    n = F.col("_n").cast("double")
    two_n0 = n * (n - F.lit(1.0))
    c = F.col("_c").cast("double")
    d = F.col("_d").cast("double")
    cd = c - d
    gamma = F.when(c + d > 0, cd / (c + d))
    somers_ba = F.when(
        two_n0 - F.col("_2n1").cast("double") > 0,
        F.lit(2.0) * cd / (two_n0 - F.col("_2n1").cast("double")),
    )
    somers_ab = F.when(
        two_n0 - F.col("_2n2").cast("double") > 0,
        F.lit(2.0) * cd / (two_n0 - F.col("_2n2").cast("double")),
    )
    return _finalize_bounded(
        one.select(
            F.col("_n").cast("long").alias("n"),
            F.col("_c").cast("long").alias("concordant"),
            F.col("_d").cast("long").alias("discordant"),
            gamma.alias("gamma"),
            somers_ba.alias("somers_ba"),
            somers_ab.alias("somers_ab"),
        )
    )


def dickey_fuller(
    series: DataFrame,
    key_col: str,
    value_col: str,
) -> DataFrame:
    """Dickey-Fuller unit-root test (lag-1, with intercept) on an
    integer-keyed series: regress Δy_t = α + β·y_{t−1} + ε over
    CALENDAR-ADJACENT pairs (keys k and k+1 — feed a dense index; gap
    pairs are excluded by the equi-join, the :func:`durbin_watson`
    contract) and report the t-statistic of β̂.  β̂ near 0 (t ≳ −1)
    says "random walk" (unit root); strongly negative t says the
    series mean-reverts.  The DF statistic is NOT t-distributed —
    compare to Dickey-Fuller critical values (−2.86 at 5% for the
    constant-only form), which is the caller's lookup.

    Plan: one hash collapse to (k, Σvalue) exact decimals, one 1:1
    self-join on k+1 (no window at all), one five-sum aggregate
    (Σx, Σd, Σx², Σd², Σxd as exact decimals, x = y_{t−1},
    d = Δy_t), then the closed-form OLS slope/SE in doubles —
    identical expression shape on both engines.  Output: one row
    (n_pairs, beta, t_stat)."""
    a = series.groupBy(F.col(key_col).cast("long").alias("_k")).agg(
        F.sum(F.col(value_col).cast("decimal(18,2)")).alias("_y")
    ).localCheckpoint(eager=False)
    b = a.select((F.col("_k") + 1).alias("_k"), F.col("_y").alias("_yp"))
    x = F.col("_yp").cast("decimal(19,2)")
    dd = F.col("_y").cast("decimal(19,2)") - F.col("_yp").cast("decimal(19,2)")
    pairs = a.join(b, "_k").select(x.alias("_x"), dd.cast("decimal(19,2)").alias("_d"))
    xx = F.col("_x")
    dv = F.col("_d")
    sums = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.sum(xx.cast("decimal(38,2)")).alias("_sx"),
        F.sum(dv.cast("decimal(38,2)")).alias("_sd"),
        F.sum((xx * xx).cast("decimal(38,4)")).alias("_sxx"),
        F.sum((dv * dv).cast("decimal(38,4)")).alias("_sdd"),
        F.sum((xx * dv).cast("decimal(38,4)")).alias("_sxd"),
    )
    n = F.col("_n").cast("double")
    sx = F.col("_sx").cast("double")
    sd = F.col("_sd").cast("double")
    sxx = F.col("_sxx").cast("double")
    sdd = F.col("_sdd").cast("double")
    sxd = F.col("_sxd").cast("double")
    cxx = sxx - sx * sx / n
    cxd = sxd - sx * sd / n
    cdd = sdd - sd * sd / n
    beta = F.when(cxx > 0, cxd / cxx)
    rss = cdd - cxd * cxd / cxx
    t_stat = F.when(
        (F.col("_n") > 2) & (cxx > 0) & (rss > 0),
        (cxd / cxx) / F.sqrt((rss / (n - F.lit(2.0))) / cxx),
    )
    return _finalize_bounded(
        sums.select(
            F.col("_n").alias("n_pairs"),
            beta.alias("beta"),
            t_stat.alias("t_stat"),
        )
    )


_HURST_WINDOWS = (16, 32, 64, 128)


def hurst_exponent(
    series: DataFrame,
    key_col: str,
    value_col: str,
    window_sizes: Sequence = _HURST_WINDOWS,
) -> DataFrame:
    """Hurst exponent by classic rescaled-range (R/S) analysis of an
    integer-keyed series: for each block size w, split the series (in
    key order) into ⌊n/w⌋ full contiguous blocks, compute each
    block's rescaled range R/S, average per w, and fit the log-log
    slope — H ≈ 0.5 is a random walk, > 0.5 persistent trending,
    < 0.5 mean-reverting.

    Scale plan: ONE :func:`global_row_number` ranks the collapsed
    series (bounded-domain daily collapse → the small-frame
    short-circuit; bucketed two-phase above it), the rank fans out
    ×|window_sizes| via posexplode (4 literal sizes — a bounded
    multiplier, not a shuffle), and every block statistic comes from
    ONE partitioned window over (w, block) — partitions ≤ max(w) =
    bounded by contract, never an unpartitioned sort.  Exactness: the
    within-block cumulative deviation is scaled by w to stay an
    EXACT decimal — dev_i = w·cum_i − i·S (S the block sum), so
    R/S = (max dev − min dev)/√(w·Σy² − S²) divides two exact
    decimals in one double per block; the per-w mean and the 4-point
    log-log OLS slope are the only float sums (≤ ⌊n/min(w)⌋ terms).
    Output: one row per w — (w, n_blocks, rs_mean, hurst), hurst
    repeated (the slope over all w rows)."""
    from pyspark.sql import Window

    from csp_gateway_spark.plans.scale import global_row_number

    ws = [int(w) for w in window_sizes]
    if len(ws) < 2 or any(w < 4 for w in ws) or len(set(ws)) != len(ws):
        raise ValueError(
            "hurst_exponent: need >=2 distinct window sizes, each >= 4"
        )
    if max(ws) > 100_000:
        raise ValueError(
            "hurst_exponent: window sizes are a bounded-partition contract (<= 100000)"
        )
    a = series.groupBy(F.col(key_col).cast("long").alias("_k")).agg(
        F.sum(F.col(value_col).cast("decimal(18,2)")).alias("_y")
    )
    ranked = global_row_number(
        a, "_k", [], rn_col="_rn",
        small_threshold=TARGET_ROWS_PER_BUCKET, checkpoint=True,
    )
    w_arr = F.array(*[F.lit(w) for w in ws])
    fan = ranked.select(
        "_rn", "_y", F.col("_n_total"), F.explode(w_arr).alias("_w")
    ).select(
        "_w", "_y",
        ((F.col("_rn") - 1) / F.col("_w")).cast("long").alias("_blk"),
        (F.col("_rn") - 1 - ((F.col("_rn") - 1) / F.col("_w")).cast("long") * F.col("_w") + 1).alias("_pos"),
        (F.col("_n_total") / F.col("_w")).cast("long").alias("_full_blocks"),
    ).filter(F.col("_blk") < F.col("_full_blocks"))
    win = Window.partitionBy("_w", "_blk").orderBy("_pos")
    full = Window.partitionBy("_w", "_blk")
    y19 = F.col("_y").cast("decimal(19,2)")
    blk = fan.select(
        "_w", "_blk", "_pos", "_y",
        F.sum(F.col("_y").cast("decimal(30,2)")).over(win).alias("_cum"),
        F.sum(F.col("_y").cast("decimal(30,2)")).over(full).alias("_s"),
        F.sum((y19 * y19).cast("decimal(38,4)")).over(full).alias("_ss"),
    )
    # dev_i = w·cum_i − i·S : exact decimal, scaled ×w so the block
    # mean never divides inside the running term
    dev = (
        F.col("_w").cast("decimal(6,0)") * F.col("_cum").cast("decimal(31,2)")
        - F.col("_pos").cast("decimal(6,0)") * F.col("_s").cast("decimal(31,2)")
    ).cast("decimal(38,2)")
    per_block = blk.groupBy("_w", "_blk").agg(
        (F.max(dev) - F.min(dev)).alias("_r"),
        F.first("_s").alias("_sb"),
        F.first("_ss").alias("_ssb"),
    )
    den2 = (
        F.col("_w").cast("double") * F.col("_ssb").cast("double")
        - F.col("_sb").cast("double") * F.col("_sb").cast("double")
    )
    rs = F.when(den2 > 0, F.col("_r").cast("double") / F.sqrt(den2))
    per_w = per_block.groupBy("_w").agg(
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        F.avg(rs).alias("rs_mean"),
    )
    lx = F.log(F.col("_w").cast("double"))
    ly = F.log(F.col("rs_mean"))
    fit = per_w.filter(F.col("rs_mean") > 0).agg(
        F.count(F.lit(1)).cast("double").alias("_m"),
        F.sum(lx).alias("_sx"),
        F.sum(ly).alias("_sy"),
        F.sum(lx * lx).alias("_sxx"),
        F.sum(lx * ly).alias("_sxy"),
    )
    slope = F.when(
        F.col("_m") * F.col("_sxx") - F.col("_sx") * F.col("_sx") > 0,
        (F.col("_m") * F.col("_sxy") - F.col("_sx") * F.col("_sy"))
        / (F.col("_m") * F.col("_sxx") - F.col("_sx") * F.col("_sx")),
    )
    out = per_w.crossJoin(F.broadcast(fit.select(slope.alias("hurst")))).select(
        F.col("_w").cast("int").alias("w"),
        "n_blocks",
        "rs_mean",
        "hurst",
    )
    return _finalize_bounded(out)


def anderson_ksamp(
    df: DataFrame,
    group_col,
    value_col: str,
    groups: Sequence,
    max_groups: int = 16,
) -> DataFrame:
    """k-sample Anderson-Darling test (tie-adjusted midrank version
    A²akN of Scholz & Stephens 1987 — the scipy ``anderson_ksamp``
    statistic): are the k samples drawn from one common distribution?
    AD weights the ECDF discrepancy by 1/(H(1−H)), so it out-powers
    Kolmogorov-Smirnov and :func:`cvm_test` in the tails — the
    standard distribution-drift gate.

    Plan (the :func:`jonckheere_terpstra` shape): the k per-group
    running counts of ONE :func:`_rank_cells`.  Doubling clears the
    midrank halves: with P_i = 2F_ij − f_ij and Q = 2H_j − h_j = r2 − 1
    (exact longs from the cumulative),

      A² = (N−1)/N² · Σ_i (1/n_i) Σ_j h_j·X²/Y,
      X = N·P_i − n_i·Q (exact decimal), Y = 2NQ − Q² − N·h_j,

    where each cell term converts X to double only after the exact
    integer subtraction, so both engines square the SAME double.  The
    normalization T = (A² − (k−1))/σ_N needs the harmonic sums
    h = Σ_{i<N} 1/i and g = Σ_{j=2}^{N−1} (h_{N−1} − h_{N−j})/j of
    Scholz-Stephens eq. 4-7: those ride a second bounded cumulative
    over ``spark.range(N−1)`` in FIXED-POINT (⌊1e17/i⌋ longs —
    exact integer division on both engines, cumsum < 2⁶³), linear
    and distributed, never a driver loop.  Output: one row
    (n, k, a2, z); degenerate inputs (empty, N < 4) yield NULL z.

    Reference parity: scipy.stats.anderson_ksamp (midrank=True).
    """
    from csp_gateway_spark.plans.scale import global_row_number

    groups = list(groups)
    k = len(groups)
    if k < 2 or k > max_groups:
        raise ValueError(
            f"anderson_ksamp: need 2..{max_groups} groups, got {k}"
        )
    ranked, n_cells, n_j = _rank_cells(df, group_col, value_col, groups)
    spark = df.sparkSession
    if n_cells == 0:
        return spark.createDataFrame(
            [(0, k, None, None)], "n long, k long, a2 double, z double"
        )
    big_n = sum(n_j)
    if min(n_j) == 0:
        raise ValueError(
            "anderson_ksamp: every group needs at least one observation"
        )
    h = F.col("_t")
    q = (F.col("_r2") - F.lit(1)).cast("decimal(20,0)")
    nlit = F.lit(big_n).cast("decimal(20,0)")
    y_den = (
        F.lit(2).cast("decimal(2,0)") * nlit * q
        - (q * q).cast("decimal(38,0)")
        - nlit * h.cast("decimal(20,0)")
    ).cast("decimal(38,0)").cast("double")
    sample_sums = []
    for i in range(k):
        p_i = (
            F.lit(2).cast("long") * F.col(f"_m{i}") - F.col(f"_c{i}")
        ).cast("decimal(20,0)")
        x_i = (nlit * p_i - F.lit(n_j[i]).cast("decimal(20,0)") * q).cast(
            "decimal(38,0)"
        ).cast("double")
        sample_sums.append(
            F.sum(h.cast("double") * x_i * x_i / y_den).alias(f"_s{i}")
        )
    got = ranked.agg(*sample_sums).collect()[0]
    a2 = (
        float(big_n - 1)
        / (float(big_n) * float(big_n))
        * sum(float(got[f"_s{i}"]) / n_j[i] for i in range(k))
    )
    z = None
    if big_n >= 4:
        # harmonic terms in fixed-point over a bounded cumulative:
        # ⌊1e17/i⌋ is exact integer division on both engines and the
        # running sum stays < 1.3e18 « 2⁶³ for any N
        rng = spark.range(1, big_n).select(
            F.col("id").alias("_i"),
            F.expr("100000000000000000 div id").alias("_ht"),
        )
        ranked_h = global_row_number(
            rng, "_i", [], rn_col="_rnh",
            cum_values=[("_ht", "_ch")],
            small_threshold=TARGET_ROWS_PER_BUCKET,
            known_count=big_n - 1,
        )
        tot = rng.agg(F.sum("_ht").cast("long").alias("_cht"))
        g_row = (
            ranked_h.crossJoin(F.broadcast(tot))
            .filter(F.col("_i") <= F.lit(big_n - 2))
            .agg(
                F.sum(
                    (F.col("_cht") - F.col("_ch")).cast("double")
                    / F.lit(1e17)
                    / (F.lit(big_n).cast("double") - F.col("_i").cast("double"))
                ).alias("_g"),
                F.first(F.col("_cht")).alias("_chtot"),
            )
            .collect()[0]
        )
        gsum = float(g_row["_g"])
        hsum = float(g_row["_chtot"]) / 1e17
        bigh_cap = sum(1.0 / nj for nj in n_j)
        kk = float(k)
        a = (4.0 * gsum - 6.0) * (kk - 1.0) + (10.0 - 6.0 * gsum) * bigh_cap
        b = (
            (2.0 * gsum - 4.0) * kk * kk
            + 8.0 * hsum * kk
            + (2.0 * gsum - 14.0 * hsum - 4.0) * bigh_cap
            - 8.0 * hsum
            + 4.0 * gsum
            - 6.0
        )
        c = (
            (6.0 * hsum + 2.0 * gsum - 2.0) * kk * kk
            + (4.0 * hsum - 6.0 * gsum + 2.0) * kk
            + (2.0 * hsum - 6.0) * bigh_cap
            + 4.0 * hsum
        )
        d = (2.0 * hsum + 6.0) * kk * kk - 4.0 * hsum * kk
        nf = float(big_n)
        # nf*nf*nf, not nf**3: libm pow can differ from repeated
        # multiplication by 1 ulp once N³ > 2⁵³, and the oracle SQL
        # multiplies — keep both engines on the identical expression
        sigma_sq = (a * nf * nf * nf + b * nf * nf + c * nf + d) / (
            (nf - 1.0) * (nf - 2.0) * (nf - 3.0)
        )
        if sigma_sq > 0:
            import math

            z = (a2 - (kk - 1.0)) / math.sqrt(sigma_sq)
    return spark.createDataFrame(
        [(big_n, k, a2, z)], "n long, k long, a2 double, z double"
    )



def quade_test(
    df: DataFrame,
    block_col,
    treat_col,
    value_col: str,
) -> DataFrame:
    """Quade test for k related treatments over n blocks — the
    range-weighted upgrade of :func:`friedman_test`: blocks that
    spread treatments further apart (larger within-block value range)
    carry proportionally more weight, which beats Friedman's power at
    small k.  S_ij = Q_i·(r_ij − (k+1)/2) with r_ij the within-block
    midrank and Q_i the ACROSS-block midrank of block i's range;
    F = (n−1)·B/(A−B), B = Σ_j S_j²/n, A = Σ_ij S_ij², on
    (k−1, (n−1)(k−1)) df.

    Exactness by doubling twice: 2r and 2Q are exact integers, so
    4S_ij = 2Q_i·(2r_ij − (k+1)) is an exact integer and the 16s
    cancel inside F.  Scale plan: within-block ranks are k-bounded
    partitioned windows (the friedman shape); the across-block range
    rank — the axis that GROWS with the data — collapses to DISTINCT
    range values first and rides one :func:`global_row_number`
    cumulative (midrank2 = 2·below + ties + 1), never an
    unpartitioned window over the block table.  Incomplete blocks are
    dropped (complete-block design).  Output: one row
    (n_blocks, k, f_stat)."""
    from pyspark.sql.window import Window

    from csp_gateway_spark.plans.scale import global_row_number

    b = F.col(block_col) if isinstance(block_col, str) else block_col
    t = F.col(treat_col) if isinstance(treat_col, str) else treat_col
    cells = df.groupBy(b.alias("_b"), t.alias("_t")).agg(
        F.sum(F.col(value_col).cast("decimal(18,2)")).alias("_y")
    )
    kk = cells.agg(F.countDistinct("_t").alias("_k"))
    complete = (
        cells.withColumn(
            "_cb", F.count(F.lit(1)).over(Window.partitionBy("_b"))
        )
        .crossJoin(F.broadcast(kk))
        .filter(F.col("_cb") == F.col("_k"))
        .localCheckpoint(eager=False)
    )
    wrank = Window.partitionBy("_b").orderBy("_y")
    wties = Window.partitionBy("_b", "_y")
    ranked = complete.select(
        "_b",
        "_t",
        "_k",
        (
            F.lit(2) * F.rank().over(wrank)
            + F.count(F.lit(1)).over(wties)
            - F.lit(1)
        ).cast("long").alias("_2r"),
    )
    ranges = complete.groupBy("_b").agg(
        (F.max("_y") - F.min("_y")).alias("_rng")
    )
    rcells = ranges.groupBy("_rng").agg(
        F.count(F.lit(1)).cast("long").alias("_cnt")
    )
    rranked = global_row_number(
        rcells, "_rng", [], rn_col="_rrn",
        cum_value="_cnt", cum_col="_cum",
        small_threshold=TARGET_ROWS_PER_BUCKET,
    )
    q2 = rranked.select(
        "_rng",
        (
            F.lit(2) * (F.col("_cum") - F.col("_cnt"))
            + F.col("_cnt")
            + F.lit(1)
        ).cast("long").alias("_2q"),
    )
    blocks_q = ranges.join(q2, "_rng").select("_b", "_2q")
    s4 = (
        F.col("_2q").cast("decimal(19,0)")
        * (
            F.col("_2r") - (F.col("_k").cast("long") + F.lit(1))
        ).cast("decimal(19,0)")
    ).cast("decimal(38,0)")
    per_cell = ranked.join(blocks_q, "_b").select(
        "_b", "_t", "_k", s4.alias("_4s")
    ).localCheckpoint(eager=False)
    s19 = F.col("_4s").cast("decimal(19,0)")
    tot = per_cell.agg(
        F.countDistinct("_b").cast("long").alias("_n"),
        F.max("_k").cast("long").alias("_kk"),
        F.sum((s19 * s19).cast("decimal(38,0)")).alias("_a16"),
    )
    sj19 = F.col("_sj").cast("decimal(19,0)")
    bsum = (
        per_cell.groupBy("_t")
        .agg(F.sum("_4s").alias("_sj"))
        .agg(F.sum((sj19 * sj19).cast("decimal(38,0)")).alias("_b16"))
    )
    one = tot.crossJoin(F.broadcast(bsum))
    n = F.col("_n").cast("double")
    a16 = F.col("_a16").cast("double")
    b16 = F.col("_b16").cast("double")
    f_stat = F.when(
        (F.col("_n") > 1) & (a16 - b16 / n > 0),
        (n - F.lit(1.0)) * (b16 / n) / (a16 - b16 / n),
    )
    return _finalize_bounded(
        one.select(
            F.col("_n").alias("n_blocks"),
            F.col("_kk").alias("k"),
            f_stat.alias("f_stat"),
        )
    )


def variance_ratio(
    series: DataFrame,
    key_col: str,
    value_col: str,
    q: int = 5,
) -> DataFrame:
    """Lo-MacKinlay variance-ratio random-walk test on an
    integer-keyed series: under a random walk, the variance of
    q-period differences is q× the variance of 1-period differences,
    so VR(q) = σ²_q/(q·σ²_1) ≈ 1; VR < 1 flags mean reversion, > 1
    momentum.  z = (VR−1)/√(2(2q−1)(q−1)/(3q·n₁)) is the
    homoskedastic form.

    The 1- and q-period differences come from two 1:1 equi-joins on
    the integer key (k+1 and k+q — calendar-adjacent contract, gap
    pairs excluded, the :func:`dickey_fuller` convention); μ̂ is the
    1-period mean, and the q-period sum centers about q·μ̂ per
    Lo-MacKinlay.  All raw sums are exact decimals; VR and z are
    closed-form doubles.  Output: one row (n1, nq, vr, z)."""
    q = int(q)
    if q < 2:
        raise ValueError("variance_ratio: q must be >= 2")
    a = series.groupBy(F.col(key_col).cast("long").alias("_k")).agg(
        F.sum(F.col(value_col).cast("decimal(18,2)")).alias("_y")
    ).localCheckpoint(eager=False)
    d1f = a.join(
        a.select((F.col("_k") + 1).alias("_k"), F.col("_y").alias("_yp")), "_k"
    ).select(
        (F.col("_y").cast("decimal(19,2)") - F.col("_yp").cast("decimal(19,2)"))
        .cast("decimal(19,2)")
        .alias("_d")
    )
    dqf = a.join(
        a.select((F.col("_k") + q).alias("_k"), F.col("_y").alias("_yq")), "_k"
    ).select(
        (F.col("_y").cast("decimal(19,2)") - F.col("_yq").cast("decimal(19,2)"))
        .cast("decimal(19,2)")
        .alias("_d")
    )
    def _sums(f, pre):
        d = F.col("_d")
        return f.agg(
            F.count(F.lit(1)).cast("long").alias(f"_n{pre}"),
            F.sum(d.cast("decimal(38,2)")).alias(f"_s{pre}"),
            F.sum((d * d).cast("decimal(38,4)")).alias(f"_ss{pre}"),
        )
    one = _sums(d1f, "1").crossJoin(F.broadcast(_sums(dqf, "q")))
    n1 = F.col("_n1").cast("double")
    nq = F.col("_nq").cast("double")
    s1 = F.col("_s1").cast("double")
    ss1 = F.col("_ss1").cast("double")
    sq = F.col("_sq").cast("double")
    ssq = F.col("_ssq").cast("double")
    mu = s1 / n1
    var1 = (ss1 - s1 * s1 / n1) / n1
    qd = F.lit(float(q))
    varq = (ssq - F.lit(2.0) * qd * mu * sq + nq * qd * qd * mu * mu) / (
        qd * nq
    )
    vr = F.when((F.col("_n1") > 1) & (F.col("_nq") > 0) & (var1 > 0), varq / var1)
    z = F.when(
        (F.col("_n1") > 1) & (F.col("_nq") > 0) & (var1 > 0),
        (varq / var1 - F.lit(1.0))
        / F.sqrt(
            F.lit(2.0 * (2 * q - 1) * (q - 1)) / (F.lit(3.0 * q) * n1)
        ),
    )
    return _finalize_bounded(
        one.select(
            F.col("_n1").alias("n1"),
            F.col("_nq").alias("nq"),
            vr.alias("vr"),
            z.alias("z"),
        )
    )


def granger_lag1(
    df: DataFrame,
    key_col: str,
    y_col,
    x_col,
) -> DataFrame:
    """Granger-causality F test at lag 1: does x's past improve the
    prediction of y beyond y's own past?  Compares the restricted
    regression y_t ~ (1, y_{t−1}) against the unrestricted
    y_t ~ (1, y_{t−1}, x_{t−1}) over calendar-adjacent pairs;
    F = (RSS_r − RSS_u)/(RSS_u/(n−3)) on (1, n−3) df.

    One hash collapse to (k, Σy, Σx) exact decimals, one 1:1 lag
    join, one TEN-sum aggregate, then the 2×2 centered normal
    equations in closed form (Cramer) — no matrix library, identical
    double expressions on both engines.  Output: one row
    (n, beta_x, f_stat)."""
    y = F.col(y_col) if isinstance(y_col, str) else y_col
    x = F.col(x_col) if isinstance(x_col, str) else x_col
    a = df.groupBy(F.col(key_col).cast("long").alias("_k")).agg(
        F.sum(y.cast("decimal(18,2)")).alias("_y"),
        F.sum(x.cast("decimal(18,2)")).alias("_x"),
    ).localCheckpoint(eager=False)
    prev = a.select(
        (F.col("_k") + 1).alias("_k"),
        F.col("_y").alias("_ya"),
        F.col("_x").alias("_xa"),
    )
    p = a.join(prev, "_k").select(
        F.col("_y").cast("decimal(19,2)").alias("_yy"),
        F.col("_ya").cast("decimal(19,2)").alias("_a"),
        F.col("_xa").cast("decimal(19,2)").alias("_bx"),
    )
    yy, aa, bb = F.col("_yy"), F.col("_a"), F.col("_bx")
    sums = p.agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.sum(aa.cast("decimal(38,2)")).alias("_sa"),
        F.sum(bb.cast("decimal(38,2)")).alias("_sb"),
        F.sum(yy.cast("decimal(38,2)")).alias("_sy"),
        F.sum((aa * aa).cast("decimal(38,4)")).alias("_saa"),
        F.sum((bb * bb).cast("decimal(38,4)")).alias("_sbb"),
        F.sum((aa * bb).cast("decimal(38,4)")).alias("_sab"),
        F.sum((yy * yy).cast("decimal(38,4)")).alias("_syy"),
        F.sum((yy * aa).cast("decimal(38,4)")).alias("_sya"),
        F.sum((yy * bb).cast("decimal(38,4)")).alias("_syb"),
    )
    n = F.col("_n").cast("double")
    sa = F.col("_sa").cast("double")
    sb = F.col("_sb").cast("double")
    sy = F.col("_sy").cast("double")
    caa = F.col("_saa").cast("double") - sa * sa / n
    cbb = F.col("_sbb").cast("double") - sb * sb / n
    cab = F.col("_sab").cast("double") - sa * sb / n
    cyy = F.col("_syy").cast("double") - sy * sy / n
    cya = F.col("_sya").cast("double") - sy * sa / n
    cyb = F.col("_syb").cast("double") - sy * sb / n
    det = caa * cbb - cab * cab
    b1 = (cya * cbb - cyb * cab) / det
    b2 = (caa * cyb - cab * cya) / det
    rss_u = cyy - b1 * cya - b2 * cyb
    rss_r = cyy - cya * cya / caa
    ok = (F.col("_n") > 3) & (det > 0) & (caa > 0)
    beta_x = F.when(ok, b2)
    f_stat = F.when(
        ok & (rss_u > 0),
        (rss_r - rss_u) / (rss_u / (n - F.lit(3.0))),
    )
    return _finalize_bounded(
        sums.select(
            F.col("_n").alias("n"),
            beta_x.alias("beta_x"),
            f_stat.alias("f_stat"),
        )
    )


def engle_granger(
    df: DataFrame,
    key_col: str,
    y_col,
    x_col,
) -> DataFrame:
    """Engle-Granger two-step cointegration test: (1) OLS y_t = α +
    β·x_t over the keyed series, (2) Dickey-Fuller (no constant —
    residuals are mean-zero by construction) on the residuals
    e_t = y_t − α − β·x_t.  A strongly negative adf_t says the
    residuals mean-revert — y and x share a common stochastic trend.
    (Compare against Engle-Granger critical values, ≈ −3.34 at 5%
    for two series; the caller's lookup.)

    Stage-1 sums are exact decimals collapsing to ONE broadcast row
    (α, β never touch the driver); residuals are per-row double
    expressions; stage 2 is one lag join + three double sums.
    Output: one row (n_pairs, alpha, beta, adf_t)."""
    y = F.col(y_col) if isinstance(y_col, str) else y_col
    x = F.col(x_col) if isinstance(x_col, str) else x_col
    a = df.groupBy(F.col(key_col).cast("long").alias("_k")).agg(
        F.sum(y.cast("decimal(18,2)")).alias("_y"),
        F.sum(x.cast("decimal(18,2)")).alias("_x"),
    ).localCheckpoint(eager=False)
    x19 = F.col("_x").cast("decimal(19,2)")
    y19 = F.col("_y").cast("decimal(19,2)")
    st1 = a.agg(
        F.count(F.lit(1)).cast("long").alias("_n0"),
        F.sum(x19.cast("decimal(38,2)")).alias("_sx"),
        F.sum(y19.cast("decimal(38,2)")).alias("_sy"),
        F.sum((x19 * x19).cast("decimal(38,4)")).alias("_sxx"),
        F.sum((x19 * y19).cast("decimal(38,4)")).alias("_sxy"),
    )
    n0 = F.col("_n0").cast("double")
    sx = F.col("_sx").cast("double")
    sy = F.col("_sy").cast("double")
    cxx = F.col("_sxx").cast("double") - sx * sx / n0
    cxy = F.col("_sxy").cast("double") - sx * sy / n0
    coefs = st1.select(
        (cxy / cxx).alias("_beta"),
        ((sy - (cxy / cxx) * sx) / n0).alias("_alpha"),
    )
    withe = a.crossJoin(F.broadcast(coefs)).select(
        "_k",
        "_alpha",
        "_beta",
        (
            F.col("_y").cast("double")
            - F.col("_alpha")
            - F.col("_beta") * F.col("_x").cast("double")
        ).alias("_e"),
    )
    prev = withe.select(
        (F.col("_k") + 1).alias("_k"), F.col("_e").alias("_ep")
    )
    pairs = withe.join(prev, "_k").select(
        "_alpha",
        "_beta",
        F.col("_ep").alias("_p"),
        (F.col("_e") - F.col("_ep")).alias("_d"),
    )
    sums = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.first("_alpha").alias("_al"),
        F.first("_beta").alias("_be"),
        F.sum(F.col("_p") * F.col("_p")).alias("_spp"),
        F.sum(F.col("_p") * F.col("_d")).alias("_spd"),
        F.sum(F.col("_d") * F.col("_d")).alias("_sdd"),
    )
    n = F.col("_n").cast("double")
    spp = F.col("_spp")
    spd = F.col("_spd")
    sdd = F.col("_sdd")
    beta = spd / spp
    rss = sdd - spd * spd / spp
    adf_t = F.when(
        (F.col("_n") > 1) & (spp > 0) & (rss > 0),
        (spd / spp) / F.sqrt((rss / (n - F.lit(1.0))) / spp),
    )
    return _finalize_bounded(
        sums.select(
            F.col("_n").alias("n_pairs"),
            F.col("_al").alias("alpha"),
            F.col("_be").alias("beta"),
            adf_t.alias("adf_t"),
        )
    )


def deming_regression(
    df: DataFrame,
    x_col: str,
    y_col: str,
    delta: float = 1.0,
) -> DataFrame:
    """Deming (errors-in-variables) regression of y on x — the method-
    comparison fit that treats BOTH variables as noisy, where OLS
    attenuates the slope toward zero.  δ is the ratio of error
    variances (σ²_y/σ²_x; δ=1 is orthogonal regression).  Closed
    form over five exact decimal sums:

      β = (s_yy − δ·s_xx + √((s_yy − δ·s_xx)² + 4δ·s_xy²)) / (2·s_xy)
      α = ȳ − β·x̄

    One map-combined aggregate, identical double expressions on both
    engines; β is NULL when s_xy = 0 (no linear association — the
    formula's 0/0).  Output: one row (n, slope, intercept)."""
    delta = float(delta)
    if delta <= 0:
        raise ValueError("deming_regression: delta must be > 0")
    x = F.col(x_col).cast("decimal(19,2)")
    y = F.col(y_col).cast("decimal(19,2)")
    base = df.filter(x.isNotNull() & y.isNotNull()).select(
        x.alias("_x"), y.alias("_y")
    )
    xx, yy = F.col("_x"), F.col("_y")
    sums = base.agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.sum(xx.cast("decimal(38,2)")).alias("_sx"),
        F.sum(yy.cast("decimal(38,2)")).alias("_sy"),
        F.sum((xx * xx).cast("decimal(38,4)")).alias("_sxx"),
        F.sum((yy * yy).cast("decimal(38,4)")).alias("_syy"),
        F.sum((xx * yy).cast("decimal(38,4)")).alias("_sxy"),
    )
    n = F.col("_n").cast("double")
    sx = F.col("_sx").cast("double")
    sy = F.col("_sy").cast("double")
    cxx = F.col("_sxx").cast("double") - sx * sx / n
    cyy = F.col("_syy").cast("double") - sy * sy / n
    cxy = F.col("_sxy").cast("double") - sx * sy / n
    dl = F.lit(delta)
    disc = (cyy - dl * cxx) * (cyy - dl * cxx) + F.lit(4.0) * dl * cxy * cxy
    slope = F.when(
        (F.col("_n") > 1) & (cxy != 0),
        (cyy - dl * cxx + F.sqrt(disc)) / (F.lit(2.0) * cxy),
    )
    intercept = F.when(
        (F.col("_n") > 1) & (cxy != 0),
        (sy - ((cyy - dl * cxx + F.sqrt(disc)) / (F.lit(2.0) * cxy)) * sx) / n,
    )
    return _finalize_bounded(
        sums.select(
            F.col("_n").alias("n"),
            slope.alias("slope"),
            intercept.alias("intercept"),
        )
    )


def bland_altman(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Bland-Altman agreement analysis of two measurements: mean
    difference (bias), SD of differences, 95% limits of agreement
    (bias ± 1.96·SD), and the count of pairs falling OUTSIDE the
    limits.  Two aggregate passes — the second re-scans with the
    bias/SD as one broadcast scalar row (never a driver value) — and
    every raw sum is an exact decimal, so the limits are identical
    doubles on both engines.  Output: one row (n, mean_diff, sd_diff,
    loa_low, loa_high, n_outside)."""
    x = F.col(x_col).cast("decimal(19,2)")
    y = F.col(y_col).cast("decimal(19,2)")
    base = df.filter(x.isNotNull() & y.isNotNull()).select(
        (x - y).cast("decimal(19,2)").alias("_d")
    ).localCheckpoint(eager=False)
    d = F.col("_d")
    s1 = base.agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.sum(d.cast("decimal(38,2)")).alias("_sd"),
        F.sum((d * d).cast("decimal(38,4)")).alias("_sdd"),
    )
    n = F.col("_n").cast("double")
    md = F.col("_sd").cast("double") / n
    sdd = F.when(
        F.col("_n") > 1,
        F.sqrt(
            (F.col("_sdd").cast("double")
             - F.col("_sd").cast("double") * F.col("_sd").cast("double") / n)
            / (n - F.lit(1.0))
        ),
    )
    lims = s1.select(
        F.col("_n").alias("_n"),
        md.alias("_md"),
        sdd.alias("_sdev"),
        (md - F.lit(1.96) * sdd).alias("_lo"),
        (md + F.lit(1.96) * sdd).alias("_hi"),
    )
    out = base.crossJoin(F.broadcast(lims)).agg(
        F.first("_n").alias("n"),
        F.first("_md").alias("mean_diff"),
        F.first("_sdev").alias("sd_diff"),
        F.first("_lo").alias("loa_low"),
        F.first("_hi").alias("loa_high"),
        F.sum(
            F.when(
                (d.cast("double") < F.col("_lo"))
                | (d.cast("double") > F.col("_hi")),
                1,
            ).otherwise(0)
        ).cast("long").alias("n_outside"),
    )
    return _finalize_bounded(out)


def optimal_cutoff(
    df: DataFrame,
    score_col: str,
    label_col: str,
) -> DataFrame:
    """Youden-J optimal classification threshold: over every distinct
    score t (decision rule "positive iff score ≥ t"), maximize
    J(t) = TPR(t) − FPR(t); ties broken toward the SMALLEST
    threshold.  The companion of :func:`roc_auc` that turns the curve
    into a deployable cutoff.

    Scale plan: one distinct-score collapse with per-class counts,
    ONE :func:`global_row_number` cumulative (the rank-family shape),
    and a TakeOrdered(1) — never a global sort.  The argmax key is
    the EXACT integer J_num = TP·N − FP·P (J's numerator scaled by
    P·N), so the winner is engine-exact; TPR/FPR/J divide only in the
    reported row.  Output: one row (n_pos, n_neg, threshold, j_stat,
    sensitivity, specificity)."""
    from csp_gateway_spark.plans.scale import global_row_number

    s = F.col(score_col)
    lab = F.col(label_col).cast("int")
    cells = (
        df.filter(s.isNotNull() & lab.isNotNull())
        .groupBy(s.alias("_s"))
        .agg(
            F.sum(lab).cast("long").alias("_p"),
            F.sum(F.lit(1) - lab).cast("long").alias("_q"),
        )
    )
    ranked = global_row_number(
        cells, "_s", [], rn_col="_rn",
        cum_values=[("_p", "_cp"), ("_q", "_cq")],
        small_threshold=TARGET_ROWS_PER_BUCKET, checkpoint=True,
    )
    tot = cells.agg(
        F.sum("_p").cast("long").alias("_tp_all"),
        F.sum("_q").cast("long").alias("_tn_all"),
    )
    wtot = ranked.crossJoin(F.broadcast(tot))
    # rule "score >= t": cumulative counts are INCLUSIVE of t's cell,
    # so >= t means total − cum(< t) = total − (cum − cell)
    tp = F.col("_tp_all") - (F.col("_cp") - F.col("_p"))
    fp = F.col("_tn_all") - (F.col("_cq") - F.col("_q"))
    j_num = (
        tp.cast("decimal(19,0)") * F.col("_tn_all").cast("decimal(19,0)")
        - fp.cast("decimal(19,0)") * F.col("_tp_all").cast("decimal(19,0)")
    ).cast("decimal(38,0)")
    best = (
        wtot.select(
            "_s",
            F.col("_tp_all"),
            F.col("_tn_all"),
            tp.alias("_tp"),
            fp.alias("_fp"),
            j_num.alias("_jn"),
        )
        .orderBy(F.col("_jn").desc(), F.col("_s").asc())
        .limit(1)
    )
    p = F.col("_tp_all").cast("double")
    q = F.col("_tn_all").cast("double")
    sens = F.when(F.col("_tp_all") > 0, F.col("_tp").cast("double") / p)
    spec = F.when(
        F.col("_tn_all") > 0,
        (q - F.col("_fp").cast("double")) / q,
    )
    jst = F.when(
        (F.col("_tp_all") > 0) & (F.col("_tn_all") > 0),
        F.col("_jn").cast("double") / (p * q),
    )
    return _finalize_bounded(
        best.select(
            F.col("_tp_all").alias("n_pos"),
            F.col("_tn_all").alias("n_neg"),
            F.col("_s").alias("threshold"),
            jst.alias("j_stat"),
            sens.alias("sensitivity"),
            spec.alias("specificity"),
        )
    )


def lift_table(
    df: DataFrame,
    score_col: str,
    label_col: str,
    tiebreak_col: str,
    k: int = 10,
) -> DataFrame:
    """Decile lift/gains table for a scored binary outcome: rank by
    score DESCENDING (ties broken by ``tiebreak_col`` — pass a UNIQUE
    id; tile assignment would otherwise be nondeterministic), cut
    into k index-equal tiles via tile = ⌊(rank−1)·k/n⌋+1, and report
    each tile's response rate, lift over the base rate, and
    cumulative gain (share of all positives captured through that
    tile).

    Scale plan: ONE :func:`global_row_number` rank (two-phase
    bucketed, never a global sort); the cumulative-gain join is a
    k×k broadcast self-join over the k-row tile table — zero windows
    anywhere.  Output: k rows (tile, n, positives, rate, lift,
    cum_gain)."""
    from csp_gateway_spark.plans.scale import global_row_number

    k = int(k)
    if not (2 <= k <= 1000):
        raise ValueError("lift_table: k must be in 2..1000")
    s = F.col(score_col)
    lab = F.col(label_col).cast("int")
    base = df.filter(s.isNotNull() & lab.isNotNull()).select(
        s.alias("_s"), lab.alias("_l"), F.col(tiebreak_col).alias("_id")
    )
    ranked = global_row_number(
        base, "_s", ["_id"], rn_col="_rn", ascending=False,
    )
    # exact INTEGER division for the tile cut (never float-divide-
    # then-truncate): both engines compute the identical ⌊·⌋
    tiled = ranked.select(
        "_l",
        F.expr(f"((_rn - 1) * {k}) div _n_total + 1").alias("tile"),
    )
    per_tile = tiled.groupBy("tile").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("_l").cast("long").alias("positives"),
    ).localCheckpoint(eager=False)
    tot = per_tile.agg(
        F.sum("n").cast("long").alias("_nt"),
        F.sum("positives").cast("long").alias("_pt"),
    )
    cum = (
        per_tile.alias("a")
        .join(
            F.broadcast(per_tile.alias("b")),
            F.col("b.tile") <= F.col("a.tile"),
        )
        .groupBy(F.col("a.tile").alias("tile"))
        .agg(F.sum(F.col("b.positives")).cast("long").alias("_cpos"))
    )
    out = (
        per_tile.join(cum, "tile")
        .crossJoin(F.broadcast(tot))
    )
    rate = F.col("positives").cast("double") / F.col("n").cast("double")
    base_rate = F.col("_pt").cast("double") / F.col("_nt").cast("double")
    lift = F.when(F.col("_pt") > 0, rate / base_rate)
    cum_gain = F.when(
        F.col("_pt") > 0,
        F.col("_cpos").cast("double") / F.col("_pt").cast("double"),
    )
    return _finalize_bounded(
        out.select(
            F.col("tile").cast("int").alias("tile"),
            "n",
            "positives",
            rate.alias("rate"),
            lift.alias("lift"),
            cum_gain.alias("cum_gain"),
        ).orderBy("tile")
    )


# ---------------------------------------------------------------------------
# Wave 35 — regression / stationarity diagnostics (additive SURVEY §7.8
# set; the reference gateway exposes no batch analytics surface —
# csp_gateway/server/demo/omnibus.py:252-257 keeps computation in
# user-space modules — so these follow the engine's established
# exact-sum + broadcast-scalar plan shapes).
# ---------------------------------------------------------------------------

def breusch_pagan(
    df: DataFrame,
    key_col: str,
    y_col,
    x_col,
) -> DataFrame:
    """Breusch-Pagan heteroskedasticity test (Koenker's studentized
    form): fit OLS y = α + β·x over the keyed series, then regress
    the SQUARED residuals on x; LM = n·R² of that auxiliary
    regression is asymptotically χ²(1) under homoskedasticity.

    Plan: one hash collapse to the keyed series, stage-1 OLS from
    five exact decimal sums collapsing to ONE broadcast row (α, β
    never touch the driver — the engle_granger shape), squared
    residuals as per-row double expressions, then one six-sum
    aggregate and the auxiliary R² in closed form.  Output: one row
    (n, lm_stat, aux_r2)."""
    y = F.col(y_col) if isinstance(y_col, str) else y_col
    x = F.col(x_col) if isinstance(x_col, str) else x_col
    a = df.groupBy(F.col(key_col).cast("long").alias("_k")).agg(
        F.sum(y.cast("decimal(18,2)")).alias("_y"),
        F.sum(x.cast("decimal(18,2)")).alias("_x"),
    ).localCheckpoint(eager=False)
    x19 = F.col("_x").cast("decimal(19,2)")
    y19 = F.col("_y").cast("decimal(19,2)")
    st1 = a.agg(
        F.count(F.lit(1)).cast("long").alias("_n0"),
        F.sum(x19.cast("decimal(38,2)")).alias("_sx"),
        F.sum(y19.cast("decimal(38,2)")).alias("_sy"),
        F.sum((x19 * x19).cast("decimal(38,4)")).alias("_sxx"),
        F.sum((x19 * y19).cast("decimal(38,4)")).alias("_sxy"),
    )
    n0 = F.col("_n0").cast("double")
    sx = F.col("_sx").cast("double")
    sy = F.col("_sy").cast("double")
    cxx = F.col("_sxx").cast("double") - sx * sx / n0
    cxy = F.col("_sxy").cast("double") - sx * sy / n0
    coefs = st1.select(
        (cxy / cxx).alias("_beta"),
        ((sy - (cxy / cxx) * sx) / n0).alias("_alpha"),
    )
    resid = (
        F.col("_y").cast("double")
        - F.col("_alpha")
        - F.col("_beta") * F.col("_x").cast("double")
    )
    withu = a.crossJoin(F.broadcast(coefs)).select(
        F.col("_x").cast("double").alias("_xd"),
        (resid * resid).alias("_u"),
    )
    xd, u = F.col("_xd"), F.col("_u")
    sums = withu.agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.sum(xd).alias("_ax"),
        F.sum(u).alias("_au"),
        F.sum(xd * xd).alias("_axx"),
        F.sum(u * u).alias("_auu"),
        F.sum(xd * u).alias("_axu"),
    )
    n = F.col("_n").cast("double")
    axd = F.col("_ax")
    au = F.col("_au")
    bxx = F.col("_axx") - axd * axd / n
    buu = F.col("_auu") - au * au / n
    bxu = F.col("_axu") - axd * au / n
    ok = (F.col("_n") > 2) & (bxx > 0) & (buu > 0)
    r2 = F.when(ok, bxu * bxu / (bxx * buu))
    return _finalize_bounded(
        sums.select(
            F.col("_n").alias("n"),
            F.when(ok, n * bxu * bxu / (bxx * buu)).alias("lm_stat"),
            r2.alias("aux_r2"),
        )
    )


def chow_test(
    df: DataFrame,
    key_col: str,
    y_col,
    x_col,
    break_key: int,
) -> DataFrame:
    """Chow structural-break F test at a KNOWN break point: fit
    y = α + β·x separately before (k < break) and after
    (k ≥ break), compare against the pooled fit;
    F = ((RSS_p − RSS₁ − RSS₂)/2) / ((RSS₁ + RSS₂)/(n − 4)) on
    (2, n − 4) df under no-break.

    Plan: ONE hash collapse + ONE map-combined aggregate carrying
    both segments' six moment sums as conditional exact decimals
    (the pooled moments are their sums — no third pass, no broadcast
    stage, no driver scalars).  Output: one row (n1, n2, f_stat)."""
    y = F.col(y_col) if isinstance(y_col, str) else y_col
    x = F.col(x_col) if isinstance(x_col, str) else x_col
    a = df.groupBy(F.col(key_col).cast("long").alias("_k")).agg(
        F.sum(y.cast("decimal(18,2)")).alias("_y"),
        F.sum(x.cast("decimal(18,2)")).alias("_x"),
    )
    seg1 = F.col("_k") < F.lit(int(break_key))
    x19 = F.col("_x").cast("decimal(19,2)")
    y19 = F.col("_y").cast("decimal(19,2)")

    def segsums(cond, tag):
        z2 = F.lit(0).cast("decimal(38,2)")
        z4 = F.lit(0).cast("decimal(38,4)")
        return [
            F.sum(F.when(cond, 1).otherwise(0)).cast("long").alias(f"_n{tag}"),
            F.sum(F.when(cond, x19.cast("decimal(38,2)")).otherwise(z2)).alias(f"_sx{tag}"),
            F.sum(F.when(cond, y19.cast("decimal(38,2)")).otherwise(z2)).alias(f"_sy{tag}"),
            F.sum(F.when(cond, (x19 * x19).cast("decimal(38,4)")).otherwise(z4)).alias(f"_sxx{tag}"),
            F.sum(F.when(cond, (x19 * y19).cast("decimal(38,4)")).otherwise(z4)).alias(f"_sxy{tag}"),
            F.sum(F.when(cond, (y19 * y19).cast("decimal(38,4)")).otherwise(z4)).alias(f"_syy{tag}"),
        ]

    sums = a.agg(*(segsums(seg1, "1") + segsums(~seg1, "2")))

    # LAYERED selects, not one inlined expression: the f-statistic
    # references each RSS ~3×, each RSS its centered moments twice —
    # fully inlined the tree grows multiplicatively and Catalyst
    # analysis alone was >1 s.  Named attribute layers keep every
    # subtree single (CollapseProject declines to re-inline non-cheap
    # duplicated refs), so the same closed form analyzes in ms.
    def cent(tag):
        n = F.col(f"_n{tag}").cast("double")
        sx = F.col(f"_sx{tag}").cast("double")
        sy = F.col(f"_sy{tag}").cast("double")
        return [
            (F.col(f"_sxx{tag}").cast("double") - sx * sx / n).alias(f"_cxx{tag}"),
            (F.col(f"_sxy{tag}").cast("double") - sx * sy / n).alias(f"_cxy{tag}"),
            (F.col(f"_syy{tag}").cast("double") - sy * sy / n).alias(f"_cyy{tag}"),
        ]

    pooled = sums.select(
        "_n1", "_n2",
        *[(F.col(f"_{m}1") + F.col(f"_{m}2")).alias(f"_{m}p")
          for m in ("sx", "sy", "sxx", "sxy", "syy")],
        *[F.col(c) for c in (
            "_sx1", "_sy1", "_sxx1", "_sxy1", "_syy1",
            "_sx2", "_sy2", "_sxx2", "_sxy2", "_syy2",
        )],
    ).withColumn("_np", F.col("_n1") + F.col("_n2"))
    cents = pooled.select(
        "_n1", "_n2", "_np", *cent("1"), *cent("2"), *cent("p")
    )

    def rss(tag):
        return (
            F.col(f"_cyy{tag}")
            - F.col(f"_cxy{tag}") * F.col(f"_cxy{tag}") / F.col(f"_cxx{tag}")
        ).alias(f"_rss{tag}")

    rssl = cents.select(
        "_n1", "_n2", "_np", "_cxx1", "_cxx2", "_cxxp",
        rss("1"), rss("2"), rss("p"),
    )
    n = F.col("_np").cast("double")
    ok = (
        (F.col("_n1") > 2) & (F.col("_n2") > 2)
        & (F.col("_cxx1") > 0) & (F.col("_cxx2") > 0) & (F.col("_cxxp") > 0)
        & (F.col("_rss1") + F.col("_rss2") > 0)
    )
    f_stat = F.when(
        ok,
        ((F.col("_rssp") - F.col("_rss1") - F.col("_rss2")) / F.lit(2.0))
        / ((F.col("_rss1") + F.col("_rss2")) / (n - F.lit(4.0))),
    )
    return _finalize_bounded(
        rssl.select(
            F.col("_n1").alias("n1"),
            F.col("_n2").alias("n2"),
            f_stat.alias("f_stat"),
        )
    )


def arch_lm(
    df: DataFrame,
    key_col: str,
    value_col,
) -> DataFrame:
    """Engle's ARCH LM test at lag 1: volatility clustering shows up
    as autocorrelation in SQUARED deviations — regress
    (v_t − v̄)² on (v_{t−1} − v̄)²; LM = n·R² is asymptotically
    χ²(1) under no-ARCH.

    Plan: one hash collapse, the series mean as ONE broadcast scalar
    row, squared deviations as per-row doubles, one 1:1
    calendar-adjacent lag join, one six-sum aggregate, closed-form
    R².  Output: one row (n_pairs, lm_stat, aux_r2)."""
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    a = df.groupBy(F.col(key_col).cast("long").alias("_k")).agg(
        F.sum(v.cast("decimal(18,2)")).alias("_v"),
    ).localCheckpoint(eager=False)
    st1 = a.agg(
        F.count(F.lit(1)).cast("long").alias("_n0"),
        F.sum(F.col("_v").cast("decimal(38,2)")).alias("_sv"),
    )
    mu = st1.select(
        (F.col("_sv").cast("double") / F.col("_n0").cast("double")).alias("_mu")
    )
    dev = F.col("_v").cast("double") - F.col("_mu")
    withu = a.crossJoin(F.broadcast(mu)).select(
        "_k",
        (dev * dev).alias("_u"),
    )
    prev = withu.select((F.col("_k") + 1).alias("_k"), F.col("_u").alias("_up"))
    pairs = withu.join(prev, "_k").select("_u", "_up")
    u, up = F.col("_u"), F.col("_up")
    sums = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.sum(up).alias("_sa"),
        F.sum(u).alias("_sy"),
        F.sum(up * up).alias("_saa"),
        F.sum(u * u).alias("_syy"),
        F.sum(up * u).alias("_say"),
    )
    n = F.col("_n").cast("double")
    sa, sy = F.col("_sa"), F.col("_sy")
    caa = F.col("_saa") - sa * sa / n
    cyy = F.col("_syy") - sy * sy / n
    cay = F.col("_say") - sa * sy / n
    ok = (F.col("_n") > 2) & (caa > 0) & (cyy > 0)
    return _finalize_bounded(
        sums.select(
            F.col("_n").alias("n_pairs"),
            F.when(ok, n * cay * cay / (caa * cyy)).alias("lm_stat"),
            F.when(ok, cay * cay / (caa * cyy)).alias("aux_r2"),
        )
    )


def kpss_test(
    df: DataFrame,
    key_col: str,
    value_col,
    lags: int = 4,
) -> DataFrame:
    """KPSS level-stationarity test: η = Σ_t S_t² / (n²·σ̂²_lrv)
    where S_t are partial sums of the demeaned series and σ̂²_lrv is
    the Bartlett-kernel long-run variance at ``lags``
    (γ₀ + 2·Σ_{j≤ℓ} (1 − j/(ℓ+1))·γ_j).  Large η rejects
    stationarity — the complement of dickey_fuller's unit-root null.

    Plan: one hash collapse; the partial sums come from ONE
    :func:`plans.scale.global_row_number` cumulative over the EXACT
    decimal series (rank-family two-phase shape — no unpartitioned
    window), demeaned per row against a broadcast mean, so
    S_t = cum_t − t·v̄ is a per-row double; autocovariances via one
    union of ℓ shifted copies + one equi-join on the dense rank (a
    band join flattened to hash joins).  ℓ is a small constant, so
    every intermediate is bounded.  Output: one row (n, eta, lrv)."""
    from csp_gateway_spark.plans.scale import global_row_number

    lags = int(lags)
    if lags < 0:
        raise ValueError("kpss_test: lags must be >= 0")
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    a = df.groupBy(F.col(key_col).cast("long").alias("_k")).agg(
        F.sum(v.cast("decimal(18,2)")).alias("_v"),
    )
    ranked = global_row_number(
        a, "_k", [], rn_col="_rn",
        cum_values=[("_v", "_cv")],
        small_threshold=TARGET_ROWS_PER_BUCKET, checkpoint=True,
    )
    st1 = a.agg(
        F.count(F.lit(1)).cast("long").alias("_n0"),
        F.sum(F.col("_v").cast("decimal(38,2)")).alias("_sv"),
    )
    mu = st1.select(
        F.col("_n0"),
        (F.col("_sv").cast("double") / F.col("_n0").cast("double")).alias("_mu"),
    )
    base = ranked.crossJoin(F.broadcast(mu)).select(
        "_rn",
        "_n0",
        (F.col("_v").cast("double") - F.col("_mu")).alias("_e"),
        (
            F.col("_cv").cast("double")
            - F.col("_rn").cast("double") * F.col("_mu")
        ).alias("_s"),
    ).localCheckpoint(eager=False)
    core = base.agg(
        F.first("_n0").alias("_n"),
        F.sum(F.col("_s") * F.col("_s")).alias("_ss"),
        F.sum(F.col("_e") * F.col("_e")).alias("_g0"),
    )
    if lags > 0:
        shifted = None
        for j in range(1, lags + 1):
            sj = base.select(
                (F.col("_rn") + j).alias("_rn"),
                F.col("_e").alias("_ep"),
                F.lit(j).alias("_j"),
            )
            shifted = sj if shifted is None else shifted.unionByName(sj)
        gj = (
            base.join(shifted, "_rn")
            .groupBy("_j")
            .agg(F.sum(F.col("_e") * F.col("_ep")).alias("_g"))
        )
        w = F.lit(1.0) - F.col("_j").cast("double") / F.lit(float(lags + 1))
        wsum = gj.agg(F.coalesce(F.sum(w * F.col("_g")), F.lit(0.0)).alias("_w"))
        core = core.crossJoin(F.broadcast(wsum))
    else:
        core = core.withColumn("_w", F.lit(0.0))
    n = F.col("_n").cast("double")
    lrv = (F.col("_g0") + F.lit(2.0) * F.col("_w")) / n
    ok = (F.col("_n") > lags + 1) & (lrv > 0) & (F.col("_g0") > 0)
    # lrv is reported RELATIVE to the plain variance γ₀/n — both η
    # and the ratio are O(1), so a 6-dp oracle rounding absorbs the
    # double-summation order drift that an absolute (data-scaled)
    # lrv would leak past it
    return _finalize_bounded(
        core.select(
            F.col("_n").alias("n"),
            F.when(ok, F.col("_ss") / (n * n * lrv)).alias("eta"),
            F.when(ok, lrv * n / F.col("_g0")).alias("lrv_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# Wave 36 — survival regression family: Cox proportional hazards
# (Breslow ties), Schoenfeld PH-assumption trend, Harrell's C.
# Companions of kaplan_meier / nelson_aalen / rmst / logrank_test;
# additive SURVEY §7.8 set (the reference gateway has no analytics
# surface — csp_gateway/server/demo/omnibus.py:252-257).
# ---------------------------------------------------------------------------

def _cox_newton(
    df: DataFrame,
    time_col: str,
    event_col: str,
    score_col: str,
    steps: int,
    cells: Optional[DataFrame] = None,
    fused: bool = False,
):
    """Shared Cox machinery: ``steps`` Newton-Raphson updates of the
    single-covariate partial-likelihood score from β=0, then one
    EVALUATION pass at the final β.  Returns ``(eval_by_time, beta)``
    — the per-event-time frame (d, Σx over events, Σx² over events,
    and the Breslow risk-set sums S₀/S₁/S₂ at the final β) plus the
    1-row β frame.

    ``fused`` (r15, guide §1.3 fewer actions): chain every Newton
    step LAZILY into the final evaluation — ONE action computes all
    ``steps`` updates + the eval pass, instead of 2 eager actions per
    step (the per-step β/by-time checkpoints).  The per-event-time
    collapse count is invariant across steps (the grouping structure
    never changes, only the aggregated values), so one cheap distinct
    count on the checkpointed cells vouches ``known_count`` for every
    step's rank call.  The arithmetic per stage — expressions, cell
    partitioning, group orders — is IDENTICAL to the eager plan, so
    values are unchanged (pinned by the fused-vs-eager equality
    test).  Keep False for large ``steps``: lazy chaining nests the
    plan ``steps`` deep.

    Scale plan: ONE fact-scan collapse to (time, score) cells — the
    quantized-score contract (ntile_histogram's numeric-domain rule):
    the cell table, not the cohort, is what every iteration touches.
    β lives in a 1-row broadcast frame (never the driver); risk-set
    sums are suffix cumulatives from :func:`global_row_number`
    descending (the rank-family two-phase shape — serial-order exact
    on the collapsed-domain small path); in eager mode each step
    checkpoints ONE row, so lineage stays flat across iterations."""
    from csp_gateway_spark.plans.scale import global_row_number

    steps = int(steps)
    if steps < 1:
        raise ValueError("cox_ph: steps must be >= 1")
    t = F.col(time_col) if isinstance(time_col, str) else F.col(time_col)
    ev = F.col(event_col).cast("int")
    x = F.col(score_col).cast("double")
    if cells is None:
        cells = (
            df.filter(
                t.isNotNull() & ev.isNotNull() & x.isNotNull()
            )
            .groupBy(t.cast("long").alias("_t"), x.alias("_x"))
            .agg(
                F.count(F.lit(1)).cast("long").alias("_na"),
                F.sum(ev).cast("long").alias("_ne"),
            )
            .localCheckpoint(eager=True)
        )
    # fused mode: the by-time collapse row count, counted ONCE on the
    # checkpointed cells (invariant across steps — same groupBy keys).
    # Above the small-path threshold the bucketed rank would replay the
    # whole lazy chain per job, so those fits take the eager steps.
    n_t = cells.select("_t").distinct().count() if fused else None
    if fused and n_t > TARGET_ROWS_PER_BUCKET:
        fused, n_t = False, None

    beta = cells.sparkSession.range(1).select(F.lit(0.0).alias("_beta"))

    def by_time(beta_df):
        w = cells.crossJoin(F.broadcast(beta_df))
        c0 = F.col("_na").cast("double") * F.exp(F.col("_beta") * F.col("_x"))
        c1 = c0 * F.col("_x")
        c2 = c1 * F.col("_x")
        ned = F.col("_ne").cast("double")
        byt = w.groupBy("_t").agg(
            F.sum(c0).alias("_c0"),
            F.sum(c1).alias("_c1"),
            F.sum(c2).alias("_c2"),
            F.sum("_ne").cast("long").alias("_d"),
            F.sum(ned * F.col("_x")).alias("_sxd"),
            F.sum((ned * F.col("_x")) * F.col("_x")).alias("_sxxd"),
        )
        return global_row_number(
            byt, "_t", [], rn_col="_rn", ascending=False,
            cum_values=[("_c0", "_s0"), ("_c1", "_s1"), ("_c2", "_s2")],
            small_threshold=TARGET_ROWS_PER_BUCKET,
            known_count=n_t,
        )

    def score_info(ranked):
        dd = F.col("_d").cast("double")
        e1 = F.col("_s1") / F.col("_s0")
        u_t = F.col("_sxd") - dd * e1
        i_t = dd * (F.col("_s2") / F.col("_s0") - e1 * e1)
        return ranked.filter(F.col("_d") > 0).agg(
            F.sum("_d").cast("long").alias("_nev"),
            F.sum(u_t).alias("_u"),
            F.sum(i_t).alias("_i"),
        )

    for _ in range(steps):
        ui = score_info(by_time(beta))
        beta = ui.crossJoin(F.broadcast(beta)).select(
            F.when(
                F.col("_i") > 0,
                F.col("_beta") + F.col("_u") / F.col("_i"),
            ).otherwise(F.col("_beta")).alias("_beta")
        )
        if not fused:
            beta = beta.localCheckpoint(eager=True)
    if fused:
        # ONE action replays the whole lazy step chain (broadcast
        # reuse dedupes the repeated β subplans); the eval pass below
        # is then a single by_time over the checkpointed β — 2 actions
        # total instead of 2 per step
        beta = beta.localCheckpoint(eager=True)
    final = by_time(beta).localCheckpoint(eager=True)
    return final, beta


def cox_ph(
    df: DataFrame,
    time_col: str,
    event_col: str,
    score_col: str,
    steps: int = 3,
) -> DataFrame:
    """Cox proportional-hazards fit (single covariate, Breslow tie
    handling): β̂ after ``steps`` Newton updates of the partial
    likelihood, with the model-based standard error
    1/√I(β̂) from one evaluation pass at the final β.  Output: one
    row (n_events, beta, se, hr = e^β).  See :func:`_cox_newton`
    for the scale plan (cell-collapse + broadcast β + suffix
    risk-set sums)."""
    final, beta = _cox_newton(df, time_col, event_col, score_col, steps)
    return cox_ph_from_eval(final, beta)


def cox_ph_from_eval(final: DataFrame, beta: DataFrame) -> DataFrame:
    """Cox summary row from an already-evaluated :func:`_cox_newton`
    pair (gate queries memoize the fit and share it with
    :func:`schoenfeld_trend_from_eval`)."""
    dd = F.col("_d").cast("double")
    e1 = F.col("_s1") / F.col("_s0")
    i_t = dd * (F.col("_s2") / F.col("_s0") - e1 * e1)
    agg = final.filter(F.col("_d") > 0).agg(
        F.sum("_d").cast("long").alias("_nev"),
        F.sum(i_t).alias("_i"),
    )
    out = agg.crossJoin(F.broadcast(beta))
    ok = F.col("_i") > 0
    return _finalize_bounded(
        out.select(
            F.col("_nev").alias("n_events"),
            F.col("_beta").alias("beta"),
            F.when(ok, F.lit(1.0) / F.sqrt(F.col("_i"))).alias("se"),
            F.exp(F.col("_beta")).alias("hr"),
        )
    )


def schoenfeld_trend(
    df: DataFrame,
    time_col: str,
    event_col: str,
    score_col: str,
    steps: int = 3,
) -> DataFrame:
    """Proportional-hazards assumption check: the Pearson correlation
    of per-event Schoenfeld residuals r_i = x_i − E(t_i) with event
    time (E = S₁/S₀ at the fitted β), plus its t statistic — a
    non-zero trend says the hazard ratio drifts over time.  Per-time
    residual sums come from the SAME evaluated frame as
    :func:`cox_ph` (share it via a caller-side memo); Σr², needed
    for the correlation, expands exactly over the per-time event
    moments (Σx, Σx² at t).  Output: one row
    (n_events, corr, t_stat)."""
    final, _beta = _cox_newton(df, time_col, event_col, score_col, steps)
    return schoenfeld_trend_from_eval(final)


def schoenfeld_trend_from_eval(final: DataFrame) -> DataFrame:
    """The Schoenfeld trend statistic from an already-evaluated
    :func:`_cox_newton` per-time frame (gate queries memoize the fit
    and call this to avoid a second Newton run)."""
    evrows = final.filter(F.col("_d") > 0).select(
        "_t", "_d", "_sxd", "_sxxd",
        (F.col("_s1") / F.col("_s0")).alias("_e1"),
    )
    dd = F.col("_d").cast("double")
    td = F.col("_t").cast("double")
    r_sum = F.col("_sxd") - dd * F.col("_e1")
    r2_sum = (
        F.col("_sxxd")
        - F.lit(2.0) * F.col("_e1") * F.col("_sxd")
        + dd * F.col("_e1") * F.col("_e1")
    )
    sums = evrows.agg(
        F.sum("_d").cast("long").alias("_n"),
        F.sum(dd * td).alias("_st"),
        F.sum((dd * td) * td).alias("_stt"),
        F.sum(r_sum).alias("_sr"),
        F.sum(td * r_sum).alias("_srt"),
        F.sum(r2_sum).alias("_srr"),
    )
    n = F.col("_n").cast("double")
    ctt = F.col("_stt") - F.col("_st") * F.col("_st") / n
    crr = F.col("_srr") - F.col("_sr") * F.col("_sr") / n
    crt = F.col("_srt") - F.col("_st") * F.col("_sr") / n
    cents = sums.select(
        "_n", ctt.alias("_ctt"), crr.alias("_crr"), crt.alias("_crt")
    )
    ok = (F.col("_n") > 2) & (F.col("_ctt") > 0) & (F.col("_crr") > 0)
    corr = F.col("_crt") / F.sqrt(F.col("_ctt") * F.col("_crr"))
    withc = cents.select(
        "_n", F.when(ok, corr).alias("_corr")
    )
    n2 = F.col("_n").cast("double") - F.lit(2.0)
    t_stat = F.col("_corr") * F.sqrt(
        n2 / (F.lit(1.0) - F.col("_corr") * F.col("_corr"))
    )
    return _finalize_bounded(
        withc.select(
            F.col("_n").alias("n_events"),
            F.col("_corr").alias("corr"),
            F.when(
                F.col("_corr").isNotNull()
                & (F.abs(F.col("_corr")) < 1.0),
                t_stat,
            ).alias("t_stat"),
        )
    )


def harrell_c(
    df: DataFrame,
    time_col: str,
    event_col: str,
    score_col: str,
    cells: Optional[DataFrame] = None,
) -> DataFrame:
    """Harrell's concordance index for a single risk score over
    right-censored outcomes: among comparable pairs (i experienced
    the event strictly before j's observed time), the fraction where
    the earlier-event subject carries the HIGHER score; score ties
    count ½.  Equal observed times are not comparable (the common
    strict-inequality convention — documented contract).

    Scale plan: never the O(n²) pair expansion — ONE collapse to
    (time, score) cells (quantized-score contract, as
    ntile_histogram), a dense |T|×|X| grid from the crossJoin of the
    two bounded distinct sets, and three PARTITIONED window
    cumulatives (suffix over time per score column, prefix over
    score per time row) that turn every pair count into exact-long
    dominance sums.  C = (2·concordant + ties)/(2·comparable) in
    integer arithmetic — engine-exact.  Output: one row
    (n_comparable, n_concordant, n_tied, c_index)."""
    from pyspark.sql import Window

    t = F.col(time_col)
    ev = F.col(event_col).cast("int")
    x = F.col(score_col).cast("double")
    if cells is None:
        cells = (
            df.filter(t.isNotNull() & ev.isNotNull() & x.isNotNull())
            .groupBy(t.cast("long").alias("_t"), x.alias("_x"))
            .agg(
                F.count(F.lit(1)).cast("long").alias("_na"),
                F.sum(ev).cast("long").alias("_ne"),
            )
            .localCheckpoint(eager=True)
        )
    # the distinct sets are bounded collapses (the quantized-domain
    # contract) — coalesce to 1 partition each BEFORE the crossJoin,
    # else the cartesian inherits left×right partitioning (32×32 =
    # 1024 near-empty tasks observed at sf0.01); the window shuffles
    # below re-partition the dense grid by _x / _t anyway
    ts = cells.select("_t").distinct().coalesce(1)
    xs = cells.select("_x").distinct().coalesce(1)
    grid = (
        ts.crossJoin(xs)
        .join(cells.select("_t", "_x", "_na"), ["_t", "_x"], "left")
        .withColumn("_na", F.coalesce(F.col("_na"), F.lit(0).cast("long")))
    )
    w_suffix = (
        Window.partitionBy("_x")
        .orderBy(F.col("_t").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    g1 = grid.withColumn(
        "_later",
        F.coalesce(F.sum("_na").over(w_suffix), F.lit(0).cast("long")),
    )
    w_lt = (
        Window.partitionBy("_t")
        .orderBy("_x")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_all = Window.partitionBy("_t")
    g2 = g1.select(
        "_t",
        "_x",
        "_later",
        F.coalesce(F.sum("_later").over(w_lt), F.lit(0).cast("long")).alias("_lt"),
        F.sum("_later").over(w_all).alias("_tot"),
    )
    evc = cells.filter(F.col("_ne") > 0).join(g2, ["_t", "_x"])
    agg = evc.agg(
        F.sum(F.col("_ne") * F.col("_tot")).cast("long").alias("_comp"),
        F.sum(F.col("_ne") * F.col("_lt")).cast("long").alias("_conc"),
        F.sum(F.col("_ne") * F.col("_later")).cast("long").alias("_tie"),
    )
    c_index = F.when(
        F.col("_comp") > 0,
        (
            F.lit(2.0) * F.col("_conc").cast("double")
            + F.col("_tie").cast("double")
        )
        / (F.lit(2.0) * F.col("_comp").cast("double")),
    )
    return _finalize_bounded(
        agg.select(
            F.coalesce(F.col("_comp"), F.lit(0).cast("long")).alias("n_comparable"),
            F.coalesce(F.col("_conc"), F.lit(0).cast("long")).alias("n_concordant"),
            F.coalesce(F.col("_tie"), F.lit(0).cast("long")).alias("n_tied"),
            c_index.alias("c_index"),
        )
    )


# ---------------------------------------------------------------------------
# Wave 37 — panel / clustered regression family: fixed-effects within
# estimator, between estimator, cluster-robust (Liang-Zeger CR0)
# standard error.  Additive SURVEY §7.8 set; the per-entity-slope twin
# is :func:`group_ols_trend`.
# ---------------------------------------------------------------------------

def fe_within(
    df: DataFrame,
    group_col,
    y_col,
    x_col,
    per_g: DataFrame | None = None,
) -> DataFrame:
    """Fixed-effects (within) estimator of y on x with entity
    intercepts absorbed: β_FE = Σ_g C_xy,g / Σ_g C_xx,g over
    per-group centered moments — the panel regression that removes
    every time-invariant entity confounder.  Within-R² from the same
    three pooled centered moments.

    Plan: ONE hash aggregate to per-group EXACT decimal sums
    (n, Σx, Σy, Σx², Σxy, Σy²), then one bounded aggregate over the
    ≤|groups| rows folding the centered moments — the demeaning is
    algebraic (C_g = S − S·S/n per group), never a second data pass,
    never a join back to the fact rows.  Output: one row
    (n, n_groups, beta, r2_within)."""
    g = F.col(group_col) if isinstance(group_col, str) else group_col
    y = F.col(y_col) if isinstance(y_col, str) else y_col
    x = F.col(x_col) if isinstance(x_col, str) else x_col
    x19 = x.cast("decimal(19,2)")
    y19 = y.cast("decimal(19,2)")
    if per_g is None:
        per_g = df.filter(x19.isNotNull() & y19.isNotNull()).groupBy(
            g.alias("_g")
        ).agg(
            F.count(F.lit(1)).cast("long").alias("_n"),
            F.sum(x19.cast("decimal(38,2)")).alias("_sx"),
            F.sum(y19.cast("decimal(38,2)")).alias("_sy"),
            F.sum((x19 * x19).cast("decimal(38,4)")).alias("_sxx"),
            F.sum((x19 * y19).cast("decimal(38,4)")).alias("_sxy"),
            F.sum((y19 * y19).cast("decimal(38,4)")).alias("_syy"),
        )
    # else: caller supplies the identical per-group moment table
    n = F.col("_n").cast("double")
    sx = F.col("_sx").cast("double")
    sy = F.col("_sy").cast("double")
    pooled = per_g.agg(
        F.sum("_n").cast("long").alias("_nt"),
        F.count(F.lit(1)).cast("long").alias("_ng"),
        F.sum(F.col("_sxx").cast("double") - sx * sx / n).alias("_cxx"),
        F.sum(F.col("_sxy").cast("double") - sx * sy / n).alias("_cxy"),
        F.sum(F.col("_syy").cast("double") - sy * sy / n).alias("_cyy"),
    )
    ok = (F.col("_cxx") > 0) & (F.col("_cyy") > 0)
    beta = F.col("_cxy") / F.col("_cxx")
    r2 = (
        F.col("_cxy") * F.col("_cxy") / (F.col("_cxx") * F.col("_cyy"))
    )
    return _finalize_bounded(
        pooled.select(
            F.col("_nt").alias("n"),
            F.col("_ng").alias("n_groups"),
            F.when(ok, beta).alias("beta"),
            F.when(ok, r2).alias("r2_within"),
        )
    )


def between_reg(
    df: DataFrame,
    group_col,
    y_col,
    x_col,
    per_g: DataFrame | None = None,
) -> DataFrame:
    """Between estimator: OLS of the GROUP MEANS ȳ_g on x̄_g — the
    cross-sectional complement of :func:`fe_within` (their divergence
    is the classic fixed-vs-pooled signal).  One hash collapse to
    per-group exact sums, means as per-row doubles, one five-sum
    aggregate over the bounded group frame.  Output: one row
    (n_groups, beta, r2)."""
    g = F.col(group_col) if isinstance(group_col, str) else group_col
    y = F.col(y_col) if isinstance(y_col, str) else y_col
    x = F.col(x_col) if isinstance(x_col, str) else x_col
    x19 = x.cast("decimal(19,2)")
    y19 = y.cast("decimal(19,2)")
    if per_g is None:
        per_g = df.filter(x19.isNotNull() & y19.isNotNull()).groupBy(
            g.alias("_g")
        ).agg(
            F.count(F.lit(1)).cast("long").alias("_n"),
            F.sum(x19.cast("decimal(38,2)")).alias("_sx"),
            F.sum(y19.cast("decimal(38,2)")).alias("_sy"),
        )
    else:
        per_g = per_g.select("_g", "_n", "_sx", "_sy")
    means = per_g.select(
        (F.col("_sx").cast("double") / F.col("_n").cast("double")).alias("_mx"),
        (F.col("_sy").cast("double") / F.col("_n").cast("double")).alias("_my"),
    )
    mx, my = F.col("_mx"), F.col("_my")
    sums = means.agg(
        F.count(F.lit(1)).cast("long").alias("_ng"),
        F.sum(mx).alias("_ax"),
        F.sum(my).alias("_ay"),
        F.sum(mx * mx).alias("_axx"),
        F.sum(mx * my).alias("_axy"),
        F.sum(my * my).alias("_ayy"),
    )
    ng = F.col("_ng").cast("double")
    cxx = F.col("_axx") - F.col("_ax") * F.col("_ax") / ng
    cxy = F.col("_axy") - F.col("_ax") * F.col("_ay") / ng
    cyy = F.col("_ayy") - F.col("_ay") * F.col("_ay") / ng
    cents = sums.select(
        "_ng", cxx.alias("_cxx"), cxy.alias("_cxy"), cyy.alias("_cyy")
    )
    ok = (F.col("_ng") > 2) & (F.col("_cxx") > 0) & (F.col("_cyy") > 0)
    return _finalize_bounded(
        cents.select(
            F.col("_ng").alias("n_groups"),
            F.when(ok, F.col("_cxy") / F.col("_cxx")).alias("beta"),
            F.when(
                ok,
                F.col("_cxy") * F.col("_cxy")
                / (F.col("_cxx") * F.col("_cyy")),
            ).alias("r2"),
        )
    )


def cluster_se(
    df: DataFrame,
    group_col,
    y_col,
    x_col,
    per_g: DataFrame | None = None,
) -> DataFrame:
    """Pooled OLS slope of y on x with the Liang-Zeger cluster-robust
    (CR0) standard error: SE²_cl = Σ_g (Σ_{i∈g} x̃_i e_i)² / C_xx² —
    within-cluster error correlation inflates the naive i.i.d. SE,
    and the ratio se_cluster/se_ols is the design-effect signal.

    Plan: per-group EXACT decimal sums in one pass; pooled OLS
    coefficients fold from the SAME group frame into ONE broadcast
    scalar row (never the driver); each group's score
    h_g = Σ x̃ e then EXPANDS ALGEBRAICALLY over its six sums —
    h_g = (Sxy − a·Sx − b·Sxx) − x̄·(Sy − a·n − b·Sx) — so no second
    fact pass and no per-row residuals.  Output: one row
    (n, n_groups, beta, se_ols, se_cluster)."""
    g = F.col(group_col) if isinstance(group_col, str) else group_col
    y = F.col(y_col) if isinstance(y_col, str) else y_col
    x = F.col(x_col) if isinstance(x_col, str) else x_col
    x19 = x.cast("decimal(19,2)")
    y19 = y.cast("decimal(19,2)")
    if per_g is None:
        per_g = df.filter(x19.isNotNull() & y19.isNotNull()).groupBy(
            g.alias("_g")
        ).agg(
            F.count(F.lit(1)).cast("long").alias("_n"),
            F.sum(x19.cast("decimal(38,2)")).alias("_sx"),
            F.sum(y19.cast("decimal(38,2)")).alias("_sy"),
            F.sum((x19 * x19).cast("decimal(38,4)")).alias("_sxx"),
            F.sum((x19 * y19).cast("decimal(38,4)")).alias("_sxy"),
            F.sum((y19 * y19).cast("decimal(38,4)")).alias("_syy"),
        ).localCheckpoint(eager=False)
    # else: caller supplies the identical per-group moment table
    tot = per_g.agg(
        F.sum("_n").cast("long").alias("_nt"),
        F.count(F.lit(1)).cast("long").alias("_ngr"),
        F.sum(F.col("_sx").cast("decimal(38,2)")).alias("_tx"),
        F.sum(F.col("_sy").cast("decimal(38,2)")).alias("_ty"),
        F.sum(F.col("_sxx").cast("decimal(38,4)")).alias("_txx"),
        F.sum(F.col("_sxy").cast("decimal(38,4)")).alias("_txy"),
        F.sum(F.col("_syy").cast("decimal(38,4)")).alias("_tyy"),
    )
    nt = F.col("_nt").cast("double")
    tx = F.col("_tx").cast("double")
    ty = F.col("_ty").cast("double")
    cxx = F.col("_txx").cast("double") - tx * tx / nt
    cxy = F.col("_txy").cast("double") - tx * ty / nt
    cyy = F.col("_tyy").cast("double") - ty * ty / nt
    coefs = tot.select(
        "_nt", "_ngr",
        cxx.alias("_cxx"), cyy.alias("_cyy"),
        (cxy / cxx).alias("_b"),
        ((ty - (cxy / cxx) * tx) / nt).alias("_a"),
        (tx / nt).alias("_xbar"),
        (cyy - (cxy / cxx) * cxy).alias("_rss"),
    )
    w = per_g.crossJoin(F.broadcast(coefs))
    h = (
        (
            F.col("_sxy").cast("double")
            - F.col("_a") * F.col("_sx").cast("double")
            - F.col("_b") * F.col("_sxx").cast("double")
        )
        - F.col("_xbar")
        * (
            F.col("_sy").cast("double")
            - F.col("_a") * F.col("_n").cast("double")
            - F.col("_b") * F.col("_sx").cast("double")
        )
    )
    agg = w.agg(
        F.first("_nt").alias("_nt"),
        F.first("_ngr").alias("_ngr"),
        F.first("_b").alias("_bb"),
        F.first("_cxx").alias("_pxx"),
        F.first("_rss").alias("_prss"),
        F.sum(h * h).alias("_hh"),
    )
    nt2 = F.col("_nt").cast("double")
    ok = (F.col("_nt") > 2) & (F.col("_pxx") > 0)
    se_ols = F.sqrt(
        (F.col("_prss") / (nt2 - F.lit(2.0))) / F.col("_pxx")
    )
    se_cl = F.sqrt(F.col("_hh")) / F.col("_pxx")
    return _finalize_bounded(
        agg.select(
            F.col("_nt").alias("n"),
            F.col("_ngr").alias("n_groups"),
            F.when(ok, F.col("_bb")).alias("beta"),
            F.when(ok & (F.col("_prss") > 0), se_ols).alias("se_ols"),
            F.when(ok, se_cl).alias("se_cluster"),
        )
    )


# ---------------------------------------------------------------------------
# Wave 38 — forecast-comparison family: Diebold-Mariano, Pesaran-
# Timmermann directional accuracy, Theil's U2.  Companions of
# mase_backtest / holt_forecast; additive SURVEY §7.8 set.
# ---------------------------------------------------------------------------

def diebold_mariano(
    df: DataFrame,
    key_col: str,
    loss1_col,
    loss2_col,
    lags: int = 0,
) -> DataFrame:
    """Diebold-Mariano equal-predictive-accuracy test over a keyed
    loss-differential series: d_t = L₁(t) − L₂(t),
    DM = d̄ / √(LRV(d)/n) with the Bartlett-kernel long-run variance
    at ``lags`` (h-step forecasts ⇒ lags = h−1; 0 = plain variance).
    DM < 0 favors forecast 1.  The reported companion is the O(1)
    loss ratio ΣL₁/ΣL₂ — the data-scaled d̄ itself would leak
    double-summation drift past a fixed-dp oracle rounding.

    Plan: one hash collapse to the keyed differential, dense order
    from :func:`global_row_number` (rank-family shape), mean as ONE
    broadcast row, autocovariances via ``lags`` shifted copies + one
    hash join — the KPSS long-run-variance machinery pointed at a
    differential series.  Output: one row (n, loss_ratio, dm_stat)."""
    from csp_gateway_spark.plans.scale import global_row_number

    lags = int(lags)
    if lags < 0:
        raise ValueError("diebold_mariano: lags must be >= 0")
    l1 = F.col(loss1_col) if isinstance(loss1_col, str) else loss1_col
    l2 = F.col(loss2_col) if isinstance(loss2_col, str) else loss2_col
    a = df.filter(l1.isNotNull() & l2.isNotNull()).groupBy(
        F.col(key_col).cast("long").alias("_k")
    ).agg(
        F.sum(l1.cast("double")).alias("_l1"),
        F.sum(l2.cast("double")).alias("_l2"),
    )
    ranked = global_row_number(
        a.select("_k", "_l1", "_l2", (F.col("_l1") - F.col("_l2")).alias("_d")),
        "_k", [], rn_col="_rn",
        small_threshold=TARGET_ROWS_PER_BUCKET, checkpoint=True,
    )
    st = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.sum("_l1").alias("_s1"),
        F.sum("_l2").alias("_s2"),
        F.sum("_d").alias("_sd"),
    )
    mu = st.select(
        "_n", "_s1", "_s2",
        (F.col("_sd") / F.col("_n").cast("double")).alias("_mu"),
    )
    base = ranked.crossJoin(F.broadcast(mu)).select(
        "_rn", "_n", "_s1", "_s2", "_mu",
        (F.col("_d") - F.col("_mu")).alias("_e"),
    ).localCheckpoint(eager=False)
    core = base.agg(
        F.first("_n").alias("_n"),
        F.first("_s1").alias("_c1"),
        F.first("_s2").alias("_c2"),
        F.first("_mu").alias("_m"),
        F.sum(F.col("_e") * F.col("_e")).alias("_g0"),
    )
    if lags > 0:
        shifted = None
        for j in range(1, lags + 1):
            sj = base.select(
                (F.col("_rn") + j).alias("_rn"),
                F.col("_e").alias("_ep"),
                F.lit(j).alias("_j"),
            )
            shifted = sj if shifted is None else shifted.unionByName(sj)
        gj = (
            base.join(shifted, "_rn")
            .groupBy("_j")
            .agg(F.sum(F.col("_e") * F.col("_ep")).alias("_g"))
        )
        w = F.lit(1.0) - F.col("_j").cast("double") / F.lit(float(lags + 1))
        wsum = gj.agg(F.coalesce(F.sum(w * F.col("_g")), F.lit(0.0)).alias("_w"))
        core = core.crossJoin(F.broadcast(wsum))
    else:
        core = core.withColumn("_w", F.lit(0.0))
    n = F.col("_n").cast("double")
    lrv = (F.col("_g0") + F.lit(2.0) * F.col("_w")) / n
    ok = (F.col("_n") > lags + 1) & (lrv > 0) & (F.col("_c2") != 0)
    return _finalize_bounded(
        core.select(
            F.col("_n").alias("n"),
            F.when(ok, F.col("_c1") / F.col("_c2")).alias("loss_ratio"),
            F.when(ok, F.col("_m") / F.sqrt(lrv / n)).alias("dm_stat"),
        )
    )


def pesaran_timmermann(
    df: DataFrame,
    actual_col,
    forecast_col,
) -> DataFrame:
    """Pesaran-Timmermann directional-accuracy test over paired
    (actual change, predicted change) rows: is the sign-agreement
    rate S better than the independence benchmark
    P* = P_y·P_x + (1−P_y)(1−P_x)?
    PT = (S − P*) / √(V_S − V_P), asymptotically N(0,1).

    ONE map-combined aggregate of four exact counts (n, #Δy>0,
    #Δx>0, #agree) — every probability and variance is a closed form
    over those integers, so the statistic is engine-deterministic up
    to final-double rounding.  Output: one row (n, accuracy,
    pt_stat)."""
    ay = F.col(actual_col) if isinstance(actual_col, str) else actual_col
    fx = F.col(forecast_col) if isinstance(forecast_col, str) else forecast_col
    b = df.filter(ay.isNotNull() & fx.isNotNull()).select(
        (ay > 0).cast("int").alias("_uy"),
        (fx > 0).cast("int").alias("_ux"),
    )
    sums = b.agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.sum("_uy").cast("long").alias("_ny"),
        F.sum("_ux").cast("long").alias("_nx"),
        F.sum((F.col("_uy") == F.col("_ux")).cast("int")).cast("long").alias("_na"),
    )
    n = F.col("_n").cast("double")
    py = F.col("_ny").cast("double") / n
    px = F.col("_nx").cast("double") / n
    s = F.col("_na").cast("double") / n
    probs = sums.select(
        "_n",
        s.alias("_s"), py.alias("_py"), px.alias("_px"),
    )
    pyc, pxc, sc = F.col("_py"), F.col("_px"), F.col("_s")
    pstar = pyc * pxc + (F.lit(1.0) - pyc) * (F.lit(1.0) - pxc)
    lay = probs.select(
        "_n", "_s", "_py", "_px", pstar.alias("_pstar")
    )
    n2 = F.col("_n").cast("double")
    vs = F.col("_pstar") * (F.lit(1.0) - F.col("_pstar")) / n2
    vp = (
        (F.lit(2.0) * F.col("_py") - F.lit(1.0))
        * (F.lit(2.0) * F.col("_py") - F.lit(1.0))
        * F.col("_px") * (F.lit(1.0) - F.col("_px")) / n2
        + (F.lit(2.0) * F.col("_px") - F.lit(1.0))
        * (F.lit(2.0) * F.col("_px") - F.lit(1.0))
        * F.col("_py") * (F.lit(1.0) - F.col("_py")) / n2
        + F.lit(4.0) * F.col("_py") * F.col("_px")
        * (F.lit(1.0) - F.col("_py")) * (F.lit(1.0) - F.col("_px"))
        / (n2 * n2)
    )
    lay2 = lay.select(
        "_n", "_s", "_pstar", vs.alias("_vs"), vp.alias("_vp")
    )
    ok = (F.col("_n") > 1) & (F.col("_vs") - F.col("_vp") > 0)
    return _finalize_bounded(
        lay2.select(
            F.col("_n").alias("n"),
            F.col("_s").alias("accuracy"),
            F.when(
                ok,
                (F.col("_s") - F.col("_pstar"))
                / F.sqrt(F.col("_vs") - F.col("_vp")),
            ).alias("pt_stat"),
        )
    )


def theil_u2(
    df: DataFrame,
    actual_col,
    forecast_col,
    naive_col,
) -> DataFrame:
    """Theil's U2 forecast-quality ratio over aligned rows:
    U2 = √(Σ(f−y)² / Σ(naive−y)²) — below 1 the forecast beats the
    no-change benchmark.  ONE aggregate of two double sums; the
    ratio is O(1) so 6-dp oracle rounding absorbs summation-order
    drift.  Output: one row (n, u2)."""
    y = F.col(actual_col) if isinstance(actual_col, str) else actual_col
    f = F.col(forecast_col) if isinstance(forecast_col, str) else forecast_col
    nv = F.col(naive_col) if isinstance(naive_col, str) else naive_col
    b = df.filter(y.isNotNull() & f.isNotNull() & nv.isNotNull()).select(
        ((f - y) * (f - y)).cast("double").alias("_ef"),
        ((nv - y) * (nv - y)).cast("double").alias("_en"),
    )
    sums = b.agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.sum("_ef").alias("_sf"),
        F.sum("_en").alias("_sn"),
    )
    ok = (F.col("_n") > 0) & (F.col("_sn") > 0)
    return _finalize_bounded(
        sums.select(
            F.col("_n").alias("n"),
            F.when(ok, F.sqrt(F.col("_sf") / F.col("_sn"))).alias("u2"),
        )
    )


# ---------------------------------------------------------------------------
# Wave 40 — distribution-distance / scale tests on exact rank
# machinery: 1-D energy distance (engine-exact decimal closed form)
# and Conover's squared-ranks variance test.  Companions of ks_test /
# cvm_test / ansari_bradley; additive SURVEY §7.8 set.
# ---------------------------------------------------------------------------

def energy_distance(
    df: DataFrame,
    group_col,
    value_col: str,
    group_a,
    group_b,
    cells: Optional[DataFrame] = None,
    cells_count: Optional[int] = None,
) -> DataFrame:
    """Two-sample 1-D energy distance and the Székely-Rizzo energy
    test statistic: D² = 2·E|X−Y| − E|X−X′| − E|Y−Y′| (V-statistic
    convention), E = n₁n₂/(n₁+n₂)·D².  Sensitive to ANY
    distributional difference, not just location.

    Never the O(n²) pair expansion: over the value-sorted cells of
    :func:`_rank_cells`, every pairwise |·| sum factors through the
    running COUNTS alone.  Each observation x contributes +x once per
    partner below it and −x once per partner above, so with
    d = 2m − c − n (#below − #above within a cohort)
    Σ|x−y| = Σ_cells v·(c_a·d_b + c_b·d_a) and
    Σ_{x<x′∈A}(x′−x) = Σ_cells v·c_a·d_a — one aggregate over the
    ranked cells.  Every numerator is an EXACT decimal (value × count
    products); only the final normalizations divide as doubles, so
    the statistic is engine-exact.  Output: one row (n_a, n_b, d2,
    e_stat).

    ``cells``/``cells_count``: see :func:`ks_test` (values as
    decimal(15,2))."""
    ranked, _, _ = _rank_cells(
        df, group_col, F.col(value_col).cast("decimal(15,2)"),
        [group_a, group_b], cells, cells_count,
    )
    ca = F.col("_c0").cast("decimal(10,0)")
    cb = F.col("_c1").cast("decimal(10,0)")
    da = (F.lit(2) * F.col("_m0") - F.col("_c0") - F.col("_n0")).cast("decimal(11,0)")
    db = (F.lit(2) * F.col("_m1") - F.col("_c1") - F.col("_n1")).cast("decimal(11,0)")

    def vsum(x):  # Σ v·x over the cells, exact
        return F.sum((F.col("_v") * x.cast("decimal(23,0)")).cast("decimal(38,2)"))

    agg = ranked.agg(
        F.first("_n0").alias("_na"),
        F.first("_n1").alias("_nb"),
        vsum(ca * db + cb * da).alias("_cr"),
        vsum(ca * da).alias("_wa"),
        vsum(cb * db).alias("_wb"),
    )
    na = F.col("_na").cast("double")
    nb = F.col("_nb").cast("double")
    d2 = (
        F.lit(2.0) * F.col("_cr").cast("double") / (na * nb)
        - F.lit(2.0) * F.col("_wa").cast("double") / (na * na)
        - F.lit(2.0) * F.col("_wb").cast("double") / (nb * nb)
    )
    ok = (F.col("_na") > 0) & (F.col("_nb") > 0)
    lay = agg.select(
        F.col("_na").alias("n_a"),
        F.col("_nb").alias("n_b"),
        F.when(ok, d2).alias("d2"),
    )
    e_stat = (
        F.col("n_a").cast("double") * F.col("n_b").cast("double")
        / (F.col("n_a").cast("double") + F.col("n_b").cast("double"))
        * F.col("d2")
    )
    return _finalize_bounded(
        lay.select("n_a", "n_b", "d2", e_stat.alias("e_stat"))
    )


def conover_squared_ranks(
    df: DataFrame,
    group_col,
    value_col: str,
    group_a,
    group_b,
    cells: Optional[DataFrame] = None,
) -> DataFrame:
    """Conover's squared-ranks test for equality of VARIANCES between
    two cohorts: rank the absolute deviations u = |x − x̄_g| (each
    value from its OWN group mean) over the pooled sample, sum the
    SQUARED midranks of cohort A, and standardize against the
    without-replacement moments.  The rank-based robust alternative
    to :func:`bartlett_test` (normality-sensitive) and
    :func:`levene_test` (mean-based F).

    Plan (r14): EVERYTHING derives from the :func:`_rank_cells`
    value cells — per-group means as exact Σ(v·c)/Σc, then each cell
    emits its |v − mean_g| deviation PER GROUP with its count (two
    stacked legs, not two full fact scans), and a second
    :func:`_rank_cells` over those legs (weighted by their counts)
    ranks the distinct u.  q = r2² and its first two moments are
    exact decimals (order-free sums); the fourth moment feeds only the
    z denominator and sums as double (see inline note).  The u values
    are the same doubles as the former per-row path (v round-trips
    decimal→double, mean is the same exact-decimal ratio).  Output:
    one row (n_a, n_b, t_stat, z).

    ``cells``: optionally inject the :func:`_rank_cells` frame shared
    with :func:`ks_test` et al."""
    cells, _, _ = _rank_cells(
        df, group_col, F.col(value_col).cast("decimal(19,2)"),
        [group_a, group_b], cells,
    )
    st1 = cells.agg(
        F.sum("_c0").cast("long").alias("_na"),
        F.sum("_c1").cast("long").alias("_nb"),
        F.sum(
            (F.col("_v").cast("decimal(25,2)") * F.col("_c0").cast("decimal(12,0)"))
            .cast("decimal(38,2)")
        ).alias("_sa"),
        F.sum(
            (F.col("_v").cast("decimal(25,2)") * F.col("_c1").cast("decimal(12,0)"))
            .cast("decimal(38,2)")
        ).alias("_sb"),
    )
    means = st1.select(
        (F.col("_sa").cast("double") / F.col("_na").cast("double")).alias("_ma"),
        (F.col("_sb").cast("double") / F.col("_nb").cast("double")).alias("_mb"),
    )
    vd = F.col("_v").cast("double")
    stacked = (
        cells.crossJoin(F.broadcast(means))
        .select(
            F.explode(
                F.array(
                    F.struct(
                        F.abs(vd - F.col("_ma")).alias("_u"),
                        F.col("_c0").alias("_c"),
                        F.lit(1).alias("_isa"),
                    ),
                    F.struct(
                        F.abs(vd - F.col("_mb")).alias("_u"),
                        F.col("_c1").alias("_c"),
                        F.lit(0).alias("_isa"),
                    ),
                )
            ).alias("_s")
        )
        .select("_s.*")
        # a cell whose cohort count is 0 contributed no row in the
        # per-row formulation — drop it so the distinct-u set matches
        .filter(F.col("_c") > 0)
    )
    ranked, _, _ = _rank_cells(stacked, "_isa", "_u", [1, 0], weight="_c")
    t = F.col("_t").cast("decimal(20,0)")
    two_r = F.col("_r2").cast("decimal(20,0)")
    q = (two_r * two_r).cast("decimal(38,0)")
    # first two moments exact decimals (fit to N ≈ 10⁹); the FOURTH
    # moment q² = (2R)⁴ would overflow decimal(38) near N ≈ 10⁷, so
    # Σt·q² sums as double — it only feeds the z denominator, and the
    # 6-dp oracle rounding absorbs the ~1e−13 relative summation-order
    # drift (the engle_granger residual-sum precedent)
    qd = q.cast("double")
    sums = ranked.agg(
        F.sum(F.col("_c0").cast("decimal(10,0)") * q.cast("decimal(27,0)")).alias("_qa"),
        F.sum(t.cast("decimal(10,0)") * q.cast("decimal(27,0)")).alias("_qt"),
        F.sum(t.cast("double") * (qd * qd)).alias("_q4"),
        F.sum(F.col("_c0")).cast("long").alias("_n1"),
        F.sum(F.col("_c1")).cast("long").alias("_n2"),
    )
    na = F.col("_n1").cast("double")
    nb = F.col("_n2").cast("double")
    nn = na + nb
    t_stat = F.col("_qa").cast("double") / F.lit(4.0)
    meanr2 = F.col("_qt").cast("double") / (F.lit(4.0) * nn)
    varpop = (
        F.col("_q4") / (F.lit(16.0) * nn) - meanr2 * meanr2
    )
    ok = (F.col("_n1") > 1) & (F.col("_n2") > 1) & (varpop > 0)
    z = (t_stat - na * meanr2) / F.sqrt(na * nb / (nn - F.lit(1.0)) * varpop)
    return _finalize_bounded(
        sums.select(
            F.col("_n1").alias("n_a"),
            F.col("_n2").alias("n_b"),
            t_stat.alias("t_stat"),
            F.when(ok, z).alias("z"),
        )
    )


# ---------------------------------------------------------------------------
# Wave 41 — robust estimation: Yuen's trimmed-mean t test and Huber
# IRLS regression.  Companions of welch_ttest / mood_median /
# theil_sen; additive SURVEY §7.8 set.
# ---------------------------------------------------------------------------

def yuen_trimmed_t(
    df: DataFrame,
    group_col,
    value_col: str,
    group_a,
    group_b,
    trim: float = 0.2,
    cells: Optional[DataFrame] = None,
    cells_count: Optional[int] = None,
) -> DataFrame:
    """Yuen's t test on trimmed means: compare the central
    (1−2·trim) mass of two cohorts with winsorized variances —
    robust to heavy tails where :func:`welch_ttest` is dragged by
    outliers.  t = (x̄ₜ₁ − x̄ₜ₂)/√(d₁+d₂),
    d_j = (n_j−1)·s²_{w,j} / (h_j·(h_j−1)), h_j = n_j − 2g_j,
    g_j = ⌊trim·n_j⌋.

    Plan: over the running counts of :func:`_rank_cells` (values as
    decimal(15,2)), every order statistic (the trim cut values) and
    every trimmed/winsorized sum comes from exact per-cell
    rank-overlap arithmetic — Σv·overlap with
    overlap = clamp(min(cum, n−g) − max(cum−c, g)) — so the trimmed
    means are EXACT decimal ratios and only the final t divides as
    doubles.  ONE bounded aggregate — the trimmed sums, the SQUARED
    sums and the cut-value order statistics all come off the same
    ranked pass (r14).  Output: one row (h_a, h_b, mean_trim_a,
    mean_trim_b, t_stat).

    ``cells``/``cells_count``: see :func:`ks_test` — shared with
    :func:`energy_distance`, computed once per process."""
    trim = float(trim)
    if not (0.0 <= trim < 0.5):
        raise ValueError("yuen_trimmed_t: trim must be in [0, 0.5)")
    ranked, _, _ = _rank_cells(
        df, group_col, F.col(value_col).cast("decimal(15,2)"),
        [group_a, group_b], cells, cells_count,
    )
    ga = F.floor(F.lit(trim) * F.col("_n0")).cast("long")
    gb = F.floor(F.lit(trim) * F.col("_n1")).cast("long")

    def overlap(cum, cnt, n, gcut):
        lo = F.greatest(cum - cnt, gcut)
        hi = F.least(cum, n - gcut)
        return F.greatest(hi - lo, F.lit(0).cast("long"))

    ov_a = overlap(F.col("_m0"), F.col("_c0"), F.col("_n0"), ga)
    ov_b = overlap(F.col("_m1"), F.col("_c1"), F.col("_n1"), gb)
    v2 = (F.col("_v") * F.col("_v")).cast("decimal(31,4)")
    out = ranked.agg(
        F.first("_n0").alias("_na"),
        F.first("_n1").alias("_nb"),
        F.sum((F.col("_v") * ov_a.cast("decimal(12,0)")).cast("decimal(38,2)")).alias("_tsa"),
        F.sum((F.col("_v") * ov_b.cast("decimal(12,0)")).cast("decimal(38,2)")).alias("_tsb"),
        F.sum((v2 * ov_a.cast("decimal(12,0)")).cast("decimal(38,4)")).alias("_qa"),
        F.sum((v2 * ov_b.cast("decimal(12,0)")).cast("decimal(38,4)")).alias("_qb"),
        # cut values: the order statistics at ranks g+1 and n−g
        F.min(F.when(F.col("_m0") >= ga + 1, F.col("_v"))).alias("_loa"),
        F.min(F.when(F.col("_m0") >= F.col("_n0") - ga, F.col("_v"))).alias("_hia"),
        F.min(F.when(F.col("_m1") >= gb + 1, F.col("_v"))).alias("_lob"),
        F.min(F.when(F.col("_m1") >= F.col("_n1") - gb, F.col("_v"))).alias("_hib"),
    )
    n1, n2 = F.col("_na"), F.col("_nb")
    g1 = F.floor(F.lit(trim) * n1).cast("long")
    g2 = F.floor(F.lit(trim) * n2).cast("long")
    h1 = (n1 - 2 * g1).cast("double")
    h2 = (n2 - 2 * g2).cast("double")
    mt1 = F.col("_tsa").cast("double") / h1
    mt2 = F.col("_tsb").cast("double") / h2
    g1d, g2d = g1.cast("double"), g2.cast("double")
    lo1 = F.col("_loa").cast("double")
    hi1 = F.col("_hia").cast("double")
    lo2 = F.col("_lob").cast("double")
    hi2 = F.col("_hib").cast("double")
    # winsorized sums: middle mass + g copies of each cut value
    ws1 = F.col("_tsa").cast("double") + g1d * (lo1 + hi1)
    ws2 = F.col("_tsb").cast("double") + g2d * (lo2 + hi2)
    wq1 = F.col("_qa").cast("double") + g1d * (lo1 * lo1 + hi1 * hi1)
    wq2 = F.col("_qb").cast("double") + g2d * (lo2 * lo2 + hi2 * hi2)
    n1d, n2d = n1.cast("double"), n2.cast("double")
    ssd1 = wq1 - ws1 * ws1 / n1d
    ssd2 = wq2 - ws2 * ws2 / n2d
    # Yuen's d_j = (n_j−1)·s²_w/(h_j(h_j−1)) with s²_w = SSD_w/(n_j−1):
    # the (n−1) cancels algebraically, so fold it out of the plan
    d1 = ssd1 / (h1 * (h1 - F.lit(1.0)))
    d2 = ssd2 / (h2 * (h2 - F.lit(1.0)))
    ok = (h1 > 1) & (h2 > 1) & (d1 + d2 > 0)
    return _finalize_bounded(
        out.select(
            h1.cast("long").alias("h_a"),
            h2.cast("long").alias("h_b"),
            mt1.alias("mean_trim_a"),
            mt2.alias("mean_trim_b"),
            F.when(ok, (mt1 - mt2) / F.sqrt(d1 + d2)).alias("t_stat"),
        )
    )


def huber_irls(
    df: DataFrame,
    y_col,
    x_col,
    k: float = 1.345,
    steps: int = 2,
) -> DataFrame:
    """Huber robust regression of y on x by ``steps`` fixed IRLS
    reweighting passes: start from OLS, scale s = RMSE of the
    current fit (the practical pseudo-scale; documented contract —
    not the MAD), weights w = min(1, k·s/|e|), weighted
    least-squares in closed form each pass.  Outliers get weight
    k·s/|e| < 1 instead of quadratic pull.

    Plan: stage-1 OLS from five exact decimal sums as ONE broadcast
    row; each IRLS pass re-scans with (a, b, s) broadcast, computes
    per-row double weights, and folds SEVEN weighted sums — no
    driver scalars, flat lineage via one eager 1-row checkpoint per
    pass.  Output: one row (n, beta, alpha, n_downweighted)."""
    steps = int(steps)
    if steps < 1:
        raise ValueError("huber_irls: steps must be >= 1")
    k = float(k)
    if k <= 0:
        raise ValueError("huber_irls: k must be > 0")
    y = F.col(y_col) if isinstance(y_col, str) else y_col
    x = F.col(x_col) if isinstance(x_col, str) else x_col
    base = df.filter(y.isNotNull() & x.isNotNull()).select(
        x.cast("double").alias("_x"), y.cast("double").alias("_y")
    ).localCheckpoint(eager=False)
    x19 = F.col("_x").cast("decimal(19,2)")
    y19 = F.col("_y").cast("decimal(19,2)")
    st1 = base.agg(
        F.count(F.lit(1)).cast("long").alias("_n0"),
        F.sum(x19.cast("decimal(38,2)")).alias("_sx"),
        F.sum(y19.cast("decimal(38,2)")).alias("_sy"),
        F.sum((x19 * x19).cast("decimal(38,4)")).alias("_sxx"),
        F.sum((x19 * y19).cast("decimal(38,4)")).alias("_sxy"),
        F.sum((y19 * y19).cast("decimal(38,4)")).alias("_syy"),
    )
    n0 = F.col("_n0").cast("double")
    sx = F.col("_sx").cast("double")
    sy = F.col("_sy").cast("double")
    cxx = F.col("_sxx").cast("double") - sx * sx / n0
    cxy = F.col("_sxy").cast("double") - sx * sy / n0
    cyy = F.col("_syy").cast("double") - sy * sy / n0
    coefs = st1.select(
        F.col("_n0"),
        (cxy / cxx).alias("_b"),
        ((sy - (cxy / cxx) * sx) / n0).alias("_a"),
        F.sqrt(
            F.greatest(
                (cyy - (cxy / cxx) * cxy) / n0, F.lit(0.0)
            )
        ).alias("_s"),
    ).localCheckpoint(eager=True)
    for _ in range(steps):
        wdf = base.crossJoin(F.broadcast(coefs))
        e = F.abs(F.col("_y") - F.col("_a") - F.col("_b") * F.col("_x"))
        # s = 0 means the current fit is exact — every weight stays 1
        # (k·0/|e| would zero ALL weights and break the normalization)
        wt = F.least(F.lit(1.0), F.lit(k) * F.col("_s") / e)
        wt = F.when((e > 0) & (F.col("_s") > 0), wt).otherwise(F.lit(1.0))
        ws = wdf.select(
            "_x", "_y", wt.alias("_w"),
            (F.col("_y") - F.col("_a") - F.col("_b") * F.col("_x")).alias("_e"),
        ).agg(
            F.count(F.lit(1)).cast("long").alias("_n0"),
            F.sum("_w").alias("_sw"),
            F.sum(F.col("_w") * F.col("_x")).alias("_swx"),
            F.sum(F.col("_w") * F.col("_y")).alias("_swy"),
            F.sum(F.col("_w") * F.col("_x") * F.col("_x")).alias("_swxx"),
            F.sum(F.col("_w") * F.col("_x") * F.col("_y")).alias("_swxy"),
            F.sum(F.col("_e") * F.col("_e")).alias("_see"),
            F.sum((F.col("_w") < 1.0).cast("long")).cast("long").alias("_nd"),
        )
        sw = F.col("_sw")
        swx = F.col("_swx")
        swy = F.col("_swy")
        wxx = F.col("_swxx") - swx * swx / sw
        wxy = F.col("_swxy") - swx * swy / sw
        coefs = ws.select(
            F.col("_n0"),
            (wxy / wxx).alias("_b"),
            ((swy - (wxy / wxx) * swx) / sw).alias("_a"),
            F.sqrt(F.col("_see") / F.col("_n0").cast("double")).alias("_s"),
            F.col("_nd"),
        ).localCheckpoint(eager=True)
    return _finalize_bounded(
        coefs.select(
            F.col("_n0").alias("n"),
            F.col("_b").alias("beta"),
            F.col("_a").alias("alpha"),
            F.col("_nd").alias("n_downweighted"),
        )
    )

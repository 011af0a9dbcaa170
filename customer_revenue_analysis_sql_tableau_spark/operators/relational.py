"""Extra relational coverage (SURVEY.md §2.5-§2.9 + free Spark builtins).

The reference's operator surface is joins/aggs/sorts over one view; this
module widens coverage to the full relational algebra a user of the
engine gets: TPC-H-style multi-join analytics, semi/anti joins (the
reference's only semi-join shape is the Streamlit top-50 cardinality cap,
``data-mgmt-streamlit.py:194-198``; its anti-join shape is the
``film_in_stock`` family, ``sql/sakila-schema.sql:591-678``), set
operations (§2.7 — absent in the reference, Spark builtins), window
functions (§2.9 — implied by the view's correlated subqueries),
GROUP_CONCAT (A8, ``sql/sakila-schema.sql:365``), HAVING (F7,
``sql/sakila-schema.sql:524-525``), LIKE filters (FULLTEXT stand-in,
``sql/sakila-schema.sql:204``), scalar subqueries (V5/A9), and
ROLLUP/CUBE (free extensions, SURVEY §2.5 note).

Determinism: every LIMIT carries a total order; every money aggregate is
decimal-exact; the above-average-balance comparison is rewritten as
``bal·cnt > sum`` so no division result is ever compared.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_tables
from ..functions.money import cents, money, round2_div, round2_div_sql
from ..session import scoped_conf
from .warehouse import sum_revenue

_REV_SQL = (
    "CAST(l_extendedprice AS DECIMAL(18,2))"
    " * (CAST(1.0 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))"
)


# --------------------------------------------------------------------------
# TPC-H-style analytics (classic Spark analytical workload)
# --------------------------------------------------------------------------


def tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: grand aggregation with derived averages
    (A0,A3,A5,A7). All sums run in integer cents (see
    warehouse.sum_revenue): qty/price/discount/tax are 2-dp, so the
    products are exact at scale 4 (disc price) and 6 (charge) with one
    decimal division per group; charge stays under 2^63 for any
    realistic group (1e7-cent price × 1e4 × row count)."""
    l = load_tables(spark, sf_dir, names=("lineitem",))["lineitem"]
    f = l.filter(F.to_date(l.l_shipdate) <= F.lit("2001-09-02").cast("date"))
    qty_c = cents(f.l_quantity)
    price_c = cents(f.l_extendedprice)
    disc_c = cents(f.l_discount)
    tax_c = cents(f.l_tax)

    def _scaled(sum_col: F.Column, pow10: int, scale: int) -> F.Column:
        return (sum_col.cast("decimal(38,0)") / F.lit(pow10)).cast(
            f"decimal(38,{scale})"
        )

    sum_qty = _scaled(F.sum(qty_c), 100, 2)
    sum_price = _scaled(F.sum(price_c), 100, 2)
    sum_disc = _scaled(F.sum(price_c * (F.lit(100) - disc_c)), 10**4, 4)
    sum_charge = _scaled(
        F.sum(price_c * (F.lit(100) - disc_c) * (F.lit(100) + tax_c)), 10**6, 6
    )
    g = f.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(sum_qty, 2).cast("double").alias("sum_qty"),
        F.round(sum_price, 2).cast("double").alias("sum_base_price"),
        F.round(sum_disc, 2).cast("double").alias("sum_disc_price"),
        F.round(sum_charge, 2).cast("double").alias("sum_charge"),
        round2_div(sum_qty, F.count(F.lit(1)), scale=2).alias("avg_qty"),
        round2_div(sum_price, F.count(F.lit(1)), scale=2).alias("avg_price"),
        F.count(F.lit(1)).alias("count_order"),
    )
    return g.orderBy("l_returnflag", "l_linestatus")


def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective 3-way join + top-10 by revenue (O5)."""
    t = load_tables(spark, sf_dir, names=("customer", "orders", "lineitem"))
    c, o, l = t["customer"], t["orders"], t["lineitem"]
    cutoff = F.lit("1998-06-15").cast("date")
    return (
        c.filter(c.c_mktsegment == "BUILDING")
        .join(o, c.c_custkey == o.o_custkey)
        .filter(F.to_date(o.o_orderdate) < cutoff)
        .join(l, o.o_orderkey == l.l_orderkey)
        .filter(F.to_date(l.l_shipdate) > cutoff)
        .groupBy(o.o_orderkey, o.o_orderdate, o.o_orderpriority)
        .agg(F.round(sum_revenue(l), 2).cast("double").alias("revenue"))
        .select(
            F.col("o_orderkey"),
            F.col("revenue"),
            F.col("o_orderdate"),
            F.col("o_orderpriority"),
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


def tpch_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join, supplier nation == customer nation."""
    t = load_tables(
        spark,
        sf_dir,
        names=("customer", "orders", "lineitem", "supplier", "nation", "region"),
    )
    c, o, l = t["customer"], t["orders"], t["lineitem"]
    s, n, r = t["supplier"], t["nation"], t["region"]
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .filter(
            (F.to_date(o.o_orderdate) >= F.lit("1996-01-01").cast("date"))
            & (F.to_date(o.o_orderdate) < F.lit("1998-01-01").cast("date"))
        )
        .join(l, o.o_orderkey == l.l_orderkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .filter(c.c_nationkey == s.s_nationkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(n.n_name.alias("nation"))
        .agg(F.round(sum_revenue(l), 2).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("nation"))
    )


def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue per customer, top-20."""
    t = load_tables(spark, sf_dir, names=("customer", "orders", "lineitem", "nation"))
    c, o, l, n = t["customer"], t["orders"], t["lineitem"], t["nation"]
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, o.o_orderkey == l.l_orderkey)
        .filter(l.l_returnflag == "R")
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(c.c_custkey, c.c_name, n.n_name.alias("nation"))
        .agg(F.round(sum_revenue(l), 2).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# Semi/anti joins, set ops, scalar subquery
# --------------------------------------------------------------------------


def top_nations_customers_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O7 twin: top-5 nations by customer count, then LEFT SEMI filter
    (the Streamlit top-50 cardinality cap, ``data-mgmt-streamlit.py:194-198``)."""
    t = load_tables(spark, sf_dir, names=("customer", "nation"))
    c, n = t["customer"], t["nation"]
    cn = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    top = (
        cn.groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("n_name"))
        .limit(5)
    )
    return (
        cn.join(F.broadcast(top), "n_name", "left_semi")
        .select(
            F.col("c_custkey"), F.col("c_name"), F.col("n_name").alias("nation")
        )
    )


def parts_never_ordered_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join twin of ``film_not_in_stock``/``inventory_in_stock``
    (``sql/sakila-schema.sql:612-678``): parts with no lineitem."""
    t = load_tables(spark, sf_dir, names=("part", "lineitem"))
    p, l = t["part"], t["lineitem"]
    return p.join(l, p.p_partkey == l.l_partkey, "left_anti").select(
        "p_partkey", "p_name", "p_type"
    )


def active_high_value_except_recent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-op coverage (§2.7): high-revenue custkeys EXCEPT recently-active."""
    t = load_tables(spark, sf_dir, names=("orders", "lineitem"))
    o, l = t["orders"], t["lineitem"]
    rev = (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .groupBy(o.o_custkey)
        .agg(sum_revenue(l).alias("rev"))
    )
    high = rev.filter(F.col("rev") > 500000).select(F.col("o_custkey").alias("custkey"))
    recent = (
        o.filter(F.to_date(o.o_orderdate) >= F.lit("2001-01-01").cast("date"))
        .select(F.col("o_custkey").alias("custkey"))
        .distinct()
    )
    return high.exceptAll(recent).distinct()


def party_names_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL coverage: high-balance customer and supplier names."""
    t = load_tables(spark, sf_dir, names=("customer", "supplier"))
    c, s = t["customer"], t["supplier"]
    a = c.filter(money(c.c_acctbal) > 9000).select(
        c.c_name.alias("name"), F.lit("customer").alias("kind")
    )
    b = s.filter(money(s.s_acctbal) > 5000).select(
        s.s_name.alias("name"), F.lit("supplier").alias("kind")
    )
    return a.unionAll(b)


def customers_above_avg_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-subquery twin (V5/A9, ``sql/sakila-schema.sql:528``):
    customers above the mean balance. Compared as ``bal·cnt > sum`` —
    exact decimal math, no division, sign-safe."""
    c = load_tables(spark, sf_dir, names=("customer",))["customer"]
    stats = c.agg(
        F.sum(money(c.c_acctbal)).alias("s"), F.count(F.lit(1)).alias("n")
    )
    return (
        c.crossJoin(F.broadcast(stats))
        .filter(money(c.c_acctbal) * F.col("n") > F.col("s"))
        .select("c_custkey", "c_name", F.col("c_acctbal").alias("acctbal"))
    )


# --------------------------------------------------------------------------
# Window functions, GROUP_CONCAT, HAVING, LIKE, rollup/cube
# --------------------------------------------------------------------------


def customer_order_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function family (§2.9): row_number / rank / dense_rank /
    lag / lead / running sum per customer, ordered by order date."""
    o = load_tables(spark, sf_dir, names=("orders",))["orders"]
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.lag("o_orderdate", 1).over(w).alias("prev_order_date"),
        F.lead("o_orderdate", 1).over(w).alias("next_order_date"),
        F.round(F.sum(money("o_totalprice")).over(wsum), 2)
        .cast("double")
        .alias("running_spend"),
    )


def customer_value_distribution_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution/navigation window family (§2.9 free-extension
    surface): ntile quartiles, percent_rank, cume_dist, first/last/nth
    value with an explicit full-partition frame, per nation ordered by
    account balance.

    The order key is (balance, custkey) — a total order, so the
    navigation functions are deterministic even where balances tie.
    percent_rank/cume_dist are exact small-int ratios; IEEE double
    division is correctly rounded, so both engines produce identical
    bits. Scale posture: partitioned by nation (bounded partitions, no
    global window).
    """
    c = load_tables(spark, sf_dir, names=("customer",))["customer"]
    w = Window.partitionBy("c_nationkey").orderBy(money(c.c_acctbal), "c_custkey")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return c.select(
        "c_custkey",
        "c_nationkey",
        F.col("c_acctbal").alias("acctbal"),
        F.ntile(4).over(w).alias("balance_quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.first_value(c.c_custkey).over(wfull).alias("poorest_custkey"),
        F.last_value(c.c_custkey).over(wfull).alias("richest_custkey"),
        F.nth_value(c.c_custkey, 2).over(wfull).alias("second_poorest_custkey"),
    )


def repeat_customers_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT coverage (§2.7): customers active in both 1996 and
    1997 — two filtered projections of the same fact, distinct-set
    intersected (Spark plans a partial-agg + semi-join shape)."""
    o = load_tables(spark, sf_dir, names=("orders",))["orders"]

    def active(year: int):
        return o.filter(
            (F.to_date(o.o_orderdate) >= F.lit(f"{year}-01-01").cast("date"))
            & (F.to_date(o.o_orderdate) < F.lit(f"{year + 1}-01-01").cast("date"))
        ).select(F.col("o_custkey").alias("custkey"))

    return active(1996).intersect(active(1997))


def nation_customer_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 GROUP_CONCAT twin (``sql/sakila-schema.sql:365,451-462``):
    ordered, separator-joined customer list per nation."""
    t = load_tables(spark, sf_dir, names=("customer", "nation"))
    c, n = t["customer"], t["nation"]
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(n.n_name.alias("nation"))
        .agg(
            F.array_join(F.array_sort(F.collect_list(c.c_name)), ", ").alias(
                "customer_list"
            ),
            F.count(F.lit(1)).alias("customer_count"),
        )
    )


def nations_having_many_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7 HAVING twin (``sql/sakila-schema.sql:524-525``): post-agg filter."""
    t = load_tables(spark, sf_dir, names=("customer", "nation"))
    c, n = t["customer"], t["nation"]
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(n.n_name.alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("customer_count"),
            F.round(F.sum(money(c.c_acctbal)), 2).cast("double").alias("total_balance"),
        )
        .filter((F.col("customer_count") > 3) & (F.col("total_balance") > 0))
    )


def promo_parts_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIKE/contains filter (FULLTEXT stand-in, ``sql/sakila-schema.sql:204``)."""
    p = load_tables(spark, sf_dir, names=("part",))["part"]
    return p.filter(p.p_type.like("PROMO%") | p.p_name.contains("econo")).select(
        "p_partkey", "p_name", "p_type"
    )


def revenue_rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP (free extension; no grouping sets exist in the reference)."""
    t = load_tables(
        spark, sf_dir, names=("customer", "orders", "lineitem", "nation", "region")
    )
    c, o, l = t["customer"], t["orders"], t["lineitem"]
    n, r = t["nation"], t["region"]
    joined = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .join(o, c.c_custkey == o.o_custkey)
        .join(l, o.o_orderkey == l.l_orderkey)
    )
    return (
        joined.rollup(r.r_name.alias("region"), n.n_name.alias("nation"))
        .agg(F.round(sum_revenue(l), 2).cast("double").alias("revenue"))
    )


def lineitem_flag_status_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus) with exact sums."""
    l = load_tables(spark, sf_dir, names=("lineitem",))["lineitem"]
    return l.cube("l_returnflag", "l_linestatus").agg(
        F.round(sum_revenue(l), 2).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


def grouping_sets_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (completing §2.5's rollup/cube family):
    per-(flag,status) totals plus per-flag subtotals in one pass —
    neither a rollup (no grand total) nor a cube (no status-only set)."""
    load_tables(spark, sf_dir, names=("lineitem",))
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               count(*) AS n_lines,
               CAST(round(CAST(sum(CAST(round(l_quantity * 100) AS BIGINT))
                    AS DECIMAL(38,0)) / 100, 2) AS DOUBLE) AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag))
        ORDER BY l_returnflag, l_linestatus
        """
    )


def distinct_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT / dropDuplicates coverage."""
    c = load_tables(spark, sf_dir, names=("customer",))["customer"]
    return c.select("c_mktsegment").distinct()


def approx_distinct_customers_by_nation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The 100 TB tier of exact COUNT(DISTINCT) (SURVEY.md §7.4.7):
    HyperLogLog++ sketch via ``approx_count_distinct`` (2% rsd). A
    sketch shuffles constant bytes per group where exact distinct
    shuffles every key — the documented trade for distinct counts over
    unbounded-cardinality columns. Rows-only registry entry; pytest
    bounds the error against the exact count."""
    t = load_tables(spark, sf_dir, names=("orders", "customer", "nation"))
    return (
        t["orders"]
        .join(t["customer"].select("c_custkey", "c_nationkey"),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"].select("n_nationkey", "n_name")),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.approx_count_distinct("o_custkey", rsd=0.02).alias(
                "approx_customers"
            ),
        )
        .orderBy("nation")
    )


#: Confs that surface Spark's RUNTIME BLOOM-FILTER join pruning at
#: test scale: stock thresholds require a >=10 GiB probe-side scan
#: (exactly the 100 TB regime) and a shuffle join (tiny build sides
#: get broadcast locally, where the filter would be pointless).
#: Forcing both makes the local plan the AT-SCALE plan.
BLOOM_FILTER_CONFS = {
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


def bloom_runtime_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact join under RUNTIME BLOOM-FILTER pruning — the Spark
    optimizer feature that makes selective fact-fact joins viable at
    100 TB: a ``bloom_filter_agg`` subquery is injected over the
    SELECTIVE side's join keys (here: urgent orders) and a
    ``might_contain`` predicate lands UNDER the probe-side scan, so
    non-qualifying lineitem rows are dropped before the shuffle write
    instead of after it (shuffle volume ∝ matching rows, not fact
    size). The filter is a pre-filter, never semantics: this entry's
    driver hash proves the pruned plan returns exactly the plain
    join's answer (the oracle runs the plain join), and
    tests/test_bloom_filter.py asserts both plan markers are present
    under these confs and absent without them, with bit-identical
    results either way. Exact integer quantities (cents) — no float in
    the aggregate. The tables load before the scope opens:
    ``load_tables`` re-applies the 64 MB broadcast threshold, which
    ``scoped_conf`` would refuse as a change to a key it owns."""
    t = load_tables(spark, sf_dir, names=("orders", "lineitem"))
    sel = (
        t["orders"]
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
    )
    res = (
        t["lineitem"]
        .join(sel, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(cents(F.col("l_quantity"))).alias("qty_c"),
        )
        .orderBy("l_returnflag")
    )
    # the frame plans at its first action: materialize inside the scope
    with scoped_conf(spark, BLOOM_FILTER_CONFS):
        return res.localCheckpoint()


# --------------------------------------------------------------------------
# Registry + oracles
# --------------------------------------------------------------------------

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "tpch_q1_pricing_summary": tpch_q1_pricing_summary,
    "tpch_q3_shipping_priority": tpch_q3_shipping_priority,
    "tpch_q5_local_supplier_volume": tpch_q5_local_supplier_volume,
    "tpch_q10_returned_items": tpch_q10_returned_items,
    "top_nations_customers_semi": top_nations_customers_semi,
    "parts_never_ordered_anti": parts_never_ordered_anti,
    "active_high_value_except_recent": active_high_value_except_recent,
    "party_names_union": party_names_union,
    "customers_above_avg_balance": customers_above_avg_balance,
    "customer_order_windows": customer_order_windows,
    "customer_value_distribution_windows": customer_value_distribution_windows,
    "repeat_customers_intersect": repeat_customers_intersect,
    "nation_customer_list": nation_customer_list,
    "nations_having_many_customers": nations_having_many_customers,
    "promo_parts_like": promo_parts_like,
    "revenue_rollup_region_nation": revenue_rollup_region_nation,
    "lineitem_flag_status_cube": lineitem_flag_status_cube,
    "distinct_segments": distinct_segments,
    "grouping_sets_flag_status": grouping_sets_flag_status,
    # rows-only: sketch values are implementation-defined
    "approx_distinct_customers_by_nation": approx_distinct_customers_by_nation,
    "bloom_runtime_filter_join": bloom_runtime_filter_join,
}

_AVG_QTY = round2_div_sql("sum(CAST(l_quantity AS DECIMAL(18,2)))", "count(*)", scale=2)
_AVG_PRICE = round2_div_sql(
    "sum(CAST(l_extendedprice AS DECIMAL(18,2)))", "count(*)", scale=2
)

ORACLES: dict[str, str] = {
    # the bloom filter is a pre-filter, never semantics: the oracle is
    # the PLAIN join — the hash proves the pruned plan changes nothing
    "bloom_runtime_filter_join": """
        SELECT l_returnflag,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT))
                    AS BIGINT) AS qty_c
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderpriority = '1-URGENT'
        GROUP BY l_returnflag ORDER BY l_returnflag""",
    "tpch_q1_pricing_summary": f"""
        SELECT l_returnflag, l_linestatus,
            CAST(round(sum(CAST(l_quantity AS DECIMAL(18,2))),2) AS DOUBLE) AS sum_qty,
            CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))),2) AS DOUBLE) AS sum_base_price,
            CAST(round(sum({_REV_SQL}),2) AS DOUBLE) AS sum_disc_price,
            CAST(round(sum({_REV_SQL} * (CAST(1.0 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(3,2)))),2) AS DOUBLE) AS sum_charge,
            {_AVG_QTY} AS avg_qty,
            {_AVG_PRICE} AS avg_price,
            count(*) AS count_order
        FROM lineitem WHERE CAST(l_shipdate AS DATE) <= DATE '2001-09-02'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus""",
    "tpch_q3_shipping_priority": f"""
        SELECT o.o_orderkey,
               CAST(round(sum({_REV_SQL}),2) AS DOUBLE) AS revenue,
               o.o_orderdate, o.o_orderpriority
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND CAST(o.o_orderdate AS DATE) < DATE '1998-06-15'
          AND CAST(l.l_shipdate AS DATE) > DATE '1998-06-15'
        GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
        ORDER BY revenue DESC, o.o_orderkey ASC LIMIT 10""",
    "tpch_q5_local_supplier_volume": f"""
        SELECT n.n_name AS nation,
               CAST(round(sum({_REV_SQL}),2) AS DOUBLE) AS revenue
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE c.c_nationkey = s.s_nationkey
          AND CAST(o.o_orderdate AS DATE) >= DATE '1996-01-01'
          AND CAST(o.o_orderdate AS DATE) < DATE '1998-01-01'
        GROUP BY n.n_name ORDER BY revenue DESC, nation ASC""",
    "tpch_q10_returned_items": f"""
        SELECT c.c_custkey, c.c_name, n.n_name AS nation,
               CAST(round(sum({_REV_SQL}),2) AS DOUBLE) AS revenue
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE l.l_returnflag = 'R'
        GROUP BY c.c_custkey, c.c_name, n.n_name
        ORDER BY revenue DESC, c.c_custkey ASC LIMIT 20""",
    "top_nations_customers_semi": """
        SELECT c.c_custkey, c.c_name, n.n_name AS nation
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE n.n_name IN (
            SELECT n2.n_name
            FROM customer c2 JOIN nation n2 ON c2.c_nationkey = n2.n_nationkey
            GROUP BY n2.n_name
            ORDER BY count(*) DESC, n2.n_name ASC LIMIT 5)""",
    "parts_never_ordered_anti": """
        SELECT p.p_partkey, p.p_name, p.p_type FROM part p
        WHERE NOT EXISTS (
            SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey)""",
    "active_high_value_except_recent": f"""
        SELECT o_custkey AS custkey FROM orders o
        JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        GROUP BY o_custkey HAVING sum({_REV_SQL}) > 500000
        EXCEPT
        SELECT DISTINCT o_custkey AS custkey FROM orders
        WHERE CAST(o_orderdate AS DATE) >= DATE '2001-01-01'""",
    "party_names_union": """
        SELECT c_name AS name, 'customer' AS kind FROM customer
        WHERE CAST(c_acctbal AS DECIMAL(18,2)) > 9000
        UNION ALL
        SELECT s_name AS name, 'supplier' AS kind FROM supplier
        WHERE CAST(s_acctbal AS DECIMAL(18,2)) > 5000""",
    "customers_above_avg_balance": """
        SELECT c_custkey, c_name, c_acctbal AS acctbal FROM customer
        WHERE CAST(c_acctbal AS DECIMAL(18,2))
              * (SELECT count(*) FROM customer)
              > (SELECT sum(CAST(c_acctbal AS DECIMAL(18,2))) FROM customer)""",
    "customer_order_windows": """
        SELECT o_custkey, o_orderkey, o_orderdate,
            row_number() OVER w AS rn,
            rank() OVER w AS rnk,
            dense_rank() OVER w AS drnk,
            lag(o_orderdate, 1) OVER w AS prev_order_date,
            lead(o_orderdate, 1) OVER w AS next_order_date,
            CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
                PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS DOUBLE)
                AS running_spend
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""",
    "customer_value_distribution_windows": """
        SELECT c_custkey, c_nationkey, c_acctbal AS acctbal,
            ntile(4) OVER w AS balance_quartile,
            percent_rank() OVER w AS pct_rank,
            cume_dist() OVER w AS cume,
            first_value(c_custkey) OVER wf AS poorest_custkey,
            last_value(c_custkey) OVER wf AS richest_custkey,
            nth_value(c_custkey, 2) OVER wf AS second_poorest_custkey
        FROM customer
        WINDOW w AS (PARTITION BY c_nationkey
                     ORDER BY CAST(c_acctbal AS DECIMAL(18,2)), c_custkey),
               wf AS (PARTITION BY c_nationkey
                      ORDER BY CAST(c_acctbal AS DECIMAL(18,2)), c_custkey
                      ROWS BETWEEN UNBOUNDED PRECEDING
                           AND UNBOUNDED FOLLOWING)""",
    "repeat_customers_intersect": """
        SELECT o_custkey AS custkey FROM orders
        WHERE CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
          AND CAST(o_orderdate AS DATE) < DATE '1997-01-01'
        INTERSECT
        SELECT o_custkey AS custkey FROM orders
        WHERE CAST(o_orderdate AS DATE) >= DATE '1997-01-01'
          AND CAST(o_orderdate AS DATE) < DATE '1998-01-01'""",
    "nation_customer_list": """
        SELECT n.n_name AS nation,
               string_agg(c.c_name, ', ' ORDER BY c.c_name) AS customer_list,
               count(*) AS customer_count
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name""",
    "nations_having_many_customers": """
        SELECT n.n_name AS nation, count(*) AS customer_count,
               CAST(round(sum(CAST(c.c_acctbal AS DECIMAL(18,2))),2) AS DOUBLE)
                   AS total_balance
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
        HAVING count(*) > 3
           AND CAST(round(sum(CAST(c.c_acctbal AS DECIMAL(18,2))),2) AS DOUBLE) > 0""",
    "promo_parts_like": """
        SELECT p_partkey, p_name, p_type FROM part
        WHERE p_type LIKE 'PROMO%' OR p_name LIKE '%econo%'""",
    "revenue_rollup_region_nation": f"""
        SELECT r.r_name AS region, n.n_name AS nation,
               CAST(round(sum({_REV_SQL}),2) AS DOUBLE) AS revenue
        FROM customer c
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        GROUP BY ROLLUP (region, nation)""",
    "grouping_sets_flag_status": """
        SELECT l_returnflag, l_linestatus,
               count(*) AS n_lines,
               CAST(round(CAST(sum(CAST(round(l_quantity * 100) AS BIGINT))
                    AS DECIMAL(38,0)) / 100, 2) AS DOUBLE) AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag))
        ORDER BY l_returnflag, l_linestatus""",
    "lineitem_flag_status_cube": f"""
        SELECT l_returnflag, l_linestatus,
               CAST(round(sum({_REV_SQL}),2) AS DOUBLE) AS revenue,
               count(*) AS n_lines
        FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""",
    "distinct_segments": "SELECT DISTINCT c_mktsegment FROM customer",
}

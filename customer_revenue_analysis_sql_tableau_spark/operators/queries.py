"""q1–q11 twins (``queries_shan.sql:46-144``) + the flagship query.

Each reference query is a regrouping/sort of the analytical view; ours do
the same over ``customer_value_summary``. Every callable has the driver
signature ``(spark, sf_dir) -> DataFrame`` and a DuckDB oracle twin that
re-states the view as a CTE.

Determinism policy (SURVEY.md §5.3.4):
- q1's LIMIT 10 gets a (revenue DESC, name ASC) total order in BOTH
  engines so the top-10 *set* is unique; the no-LIMIT variant
  (``q1_full``) mirrors the golden export that ignored the LIMIT
  (``data/q1.csv`` has 599 rows).
- q5's CURDATE() (``queries_shan.sql:86``) is anchored at
  ``CHURN_ANCHOR`` — injectable, never wall-clock.
- Revenue re-aggregation (q4, q6-q11) casts the view's 2-dp double back
  to DECIMAL before SUM so the total is order-independent (float sums
  across 32 shuffle partitions are not reproducible).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import ensure_utc_session, footer_rows, load_tables
from ..functions.money import money, round2_div, round2_div_sql
from ..session import partition_count
from .warehouse import (
    CBO_REVENUE_SQL,
    VIEW_ORACLE_SQL,
    cbo_stats_revenue_by_customer,
    customer_value_summary,
    customer_value_summary_analyzed as _view_analyzed,
    customer_value_summary_bucketed as _view_bucketed,
    most_frequent_part_type,
    sum_revenue,
)

# Rental-frequency segmentation thresholds (``queries_shan.sql:70-74`` uses
# 20/10 on rental counts; our post-join counts run ~40/customer, so 60/30
# makes all three segments materialize — the reference's own data never
# produced 'Occasional Renters', a flagged defect we avoid).
SEG_HIGH = 60
SEG_LOW = 30

#: Injectable anchor for the churn query (reference uses CURDATE()).
CHURN_ANCHOR = "2001-06-01"

_VIEW_CTE = f"WITH cvs AS ({VIEW_ORACLE_SQL})"

# Materialized-view layer: the reference materializes the view once
# (data/dw.csv) and every downstream consumer (q1-q11, Streamlit,
# Tableau) reads the materialization. Our twin: build + cache the view
# DataFrame once per (session, sf_dir); q1-q11 regroup the cached rows.
# The cached view is post-aggregation (one row per customer, 13
# columns), so executor memory stays bounded at any scale factor that
# fits a customer dimension.
#
# Sizing: the view's plan ends in a hash Exchange of
# spark.sql.shuffle.partitions partitions, and AQE never coalesces a
# cached plan's output partitioning. So on a miss the fill takes
# partition_count over the customer table's footer row count (an upper
# bound on view rows) and, below the cap, caches coalesce(n). Up to
# VIEW_ROWS_PER_PARTITION customers that is one SinglePartition, which
# satisfies every grouping and ordering distribution: every read plans
# no Exchange and runs one job of one task. At the cap the cached plan
# is left exactly as built.
#
# ~62 B per cached row (937 064 B for 14 999 rows at sf0.1), so a
# million rows keep one partition near Spark's 64 MB advisory size.
VIEW_ROWS_PER_PARTITION = 1_000_000

_VIEW_CACHE: dict[tuple[str, str], DataFrame] = {}


def materialized_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A cache HIT skips load_tables, so the UTC/AQE re-pin must happen
    # here too: downstream date-part extraction (tableau_g2's
    # dayofmonth) evaluates in the session zone at execution time, and
    # a hostile-TZ host session reaching the cached plan directly would
    # shift day groups (caught by test_hostile_driver run after a
    # cache-warming suite).
    ensure_utc_session(spark)
    # keyed on applicationId, not id(spark): a GC'd session's address
    # can be reused, which would hand out DataFrames bound to a dead
    # SparkContext; a restarted context always gets a fresh appId.
    app_id = spark.sparkContext.applicationId
    key = (app_id, sf_dir)
    df = _VIEW_CACHE.get(key)
    if df is None:
        # evict entries from other applications (their contexts are, or
        # will be, dead) so cached plans and persisted blocks don't pin
        # memory across session restarts
        for stale in [k for k in _VIEW_CACHE if k[0] != app_id]:
            old = _VIEW_CACHE.pop(stale)
            try:
                old.unpersist()
            except Exception:
                pass  # context already stopped
        view = customer_value_summary(spark, sf_dir)
        n = partition_count(
            spark, footer_rows(sf_dir, "customer"), VIEW_ROWS_PER_PARTITION
        )
        if n < int(spark.conf.get("spark.sql.shuffle.partitions")):
            view = view.coalesce(n)
        df = view.cache()
        _VIEW_CACHE[key] = df
    return df


def evict_view(spark: SparkSession, sf_dir: str) -> None:
    """Drop the memoized view materialization. Bench uses this to time
    the cache fill more than once; the fill (not the hit) is the honest
    cost of the view — a plain count() on the uncached plan gets its
    left joins eliminated and lies."""
    df = _VIEW_CACHE.pop((spark.sparkContext.applicationId, sf_dir), None)
    if df is not None:
        try:
            df.unpersist(blocking=True)
        except Exception:
            pass  # context already stopped


def _sum_revenue() -> F.Column:
    """Order-independent SUM of the view's 2-dp Total_Revenue."""
    return F.round(F.sum(money(F.col("Total_Revenue"))), 2).cast("double")


_SUM_REV_SQL = "CAST(round(sum(CAST(Total_Revenue AS DECIMAL(18,2))), 2) AS DOUBLE)"


def q1_top_revenue_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 revenue customers (``queries_shan.sql:46-52``, O5 top-k)."""
    cvs = materialized_view(spark, sf_dir)
    return (
        cvs.select("Customer_Name", "Total_Revenue")
        .orderBy(F.desc("Total_Revenue"), F.asc("Customer_Name"))
        .limit(10)
    )


def q1_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q1 without LIMIT — matches the golden export's 599-row shape."""
    cvs = materialized_view(spark, sf_dir)
    return cvs.select("Customer_Name", "Total_Revenue").orderBy(
        F.desc("Total_Revenue"), F.asc("Customer_Name")
    )


def q2_most_frequent_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most frequent renters twin (``queries_shan.sql:54-59``)."""
    cvs = materialized_view(spark, sf_dir)
    return cvs.select("Customer_Name", "Total_Orders").orderBy(F.desc("Total_Orders"))


def q3_top_late_fees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-fee ranking twin (``queries_shan.sql:61-66``)."""
    cvs = materialized_view(spark, sf_dir)
    return cvs.select("Customer_Name", "Total_Late_Fees").orderBy(
        F.desc("Total_Late_Fees")
    )


def q4_frequency_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE-ladder segmentation + agg (``queries_shan.sql:68-79``)."""
    cvs = materialized_view(spark, sf_dir)
    seg = (
        F.when(F.col("Total_Orders") >= SEG_HIGH, "Frequent Customers")
        .when(F.col("Total_Orders").between(SEG_LOW, SEG_HIGH - 1), "Regular Customers")
        .otherwise("Occasional Customers")
    )
    return (
        cvs.withColumn("Order_Frequency_Group", seg)
        .groupBy("Order_Frequency_Group")
        .agg(
            F.count("Customer_ID").alias("Customer_Count"),
            _sum_revenue().alias("Total_Revenue"),
        )
        .orderBy(F.desc("Total_Revenue"))
    )


def q5_churn_risk(
    spark: SparkSession, sf_dir: str, anchor: str = CHURN_ANCHOR
) -> DataFrame:
    """Inactive >6 months (``queries_shan.sql:81-87``, F1 date filter)."""
    cvs = materialized_view(spark, sf_dir)
    threshold = F.add_months(F.lit(anchor).cast("date"), -6)
    return (
        cvs.filter(F.col("Last_Order_Date") < threshold)
        .select("Customer_Name", "Last_Order_Date")
        .orderBy(F.asc("Last_Order_Date"))
    )


def q6_revenue_by_category(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by most-watched category twin (``queries_shan.sql:89-96``)."""
    cvs = materialized_view(spark, sf_dir)
    return (
        cvs.groupBy("Most_Frequent_Part_Type")
        .agg(
            F.count("Customer_ID").alias("Customers_Who_Buy_This_Type"),
            _sum_revenue().alias("Total_Revenue"),
        )
        .orderBy(F.desc("Total_Revenue"))
    )


def q7_customer_lifetime_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLV twin (``queries_shan.sql:98-106``)."""
    cvs = materialized_view(spark, sf_dir)
    return (
        cvs.groupBy("Customer_Name", "First_Order_Date", "Last_Order_Date")
        .agg(_sum_revenue().alias("Lifetime_Spending"))
        .orderBy(F.desc("Lifetime_Spending"))
    )


def q8_customer_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohorts by first-order month (``queries_shan.sql:108-115``).

    MySQL ``DATE_FORMAT('%Y-%m')`` → Spark ``date_format('yyyy-MM')``
    (lowercase yyyy — week-year 'YYYY' is the classic bug, SURVEY §7.4.6).
    """
    cvs = materialized_view(spark, sf_dir)
    return (
        cvs.withColumn(
            "Customer_Cohort", F.date_format("First_Order_Date", "yyyy-MM")
        )
        .groupBy("Customer_Cohort")
        .agg(
            F.count("Customer_ID").alias("New_Customers"),
            _sum_revenue().alias("Total_Revenue"),
        )
        .orderBy("Customer_Cohort")
    )


def q9_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by country twin (``queries_shan.sql:117-124``)."""
    cvs = materialized_view(spark, sf_dir)
    return (
        cvs.groupBy(F.col("Customer_Nation").alias("Nation"))
        .agg(
            F.count("Customer_ID").alias("Total_Customers"),
            _sum_revenue().alias("Total_Revenue"),
        )
        .orderBy(F.desc("Total_Revenue"))
    )


def q10_revenue_by_nation_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by city twin (``queries_shan.sql:126-134``)."""
    cvs = materialized_view(spark, sf_dir)
    return (
        cvs.groupBy(
            F.col("Customer_Nation").alias("Nation"),
            F.col("Customer_Region").alias("Region"),
        )
        .agg(
            F.count("Customer_ID").alias("Total_Customers"),
            _sum_revenue().alias("Total_Revenue"),
        )
        .orderBy(F.desc("Total_Revenue"))
    )


def q11_avg_revenue_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average spend per customer by country twin (``queries_shan.sql:136-144``).

    The division rounds via exact integer math (P3 hazard — see
    functions/money.py).
    """
    cvs = materialized_view(spark, sf_dir)
    agg = cvs.groupBy(F.col("Customer_Nation").alias("Nation")).agg(
        F.count("Customer_ID").alias("Total_Customers"),
        F.sum(money(F.col("Total_Revenue"))).alias("_rev2"),
    )
    return agg.select(
        "Nation",
        "Total_Customers",
        F.round(F.col("_rev2"), 2).cast("double").alias("Total_Revenue"),
        round2_div(F.col("_rev2"), F.col("Total_Customers"), scale=2).alias(
            "Avg_Revenue_Per_Customer"
        ),
    ).orderBy(F.desc("Avg_Revenue_Per_Customer"))


def tableau_g1_country_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.13 Graph1 twin (world map): revenue size + late-fee color per
    country. Day/year extraction and these regroupings are the entire
    engine obligation of the Tableau layer."""
    cvs = materialized_view(spark, sf_dir)
    return (
        cvs.groupBy(F.col("Customer_Nation").alias("Nation"))
        .agg(
            _sum_revenue().alias("Total_Revenue"),
            F.round(F.sum(money(F.col("Total_Late_Fees"))), 2)
            .cast("double")
            .alias("Total_Late_Fees"),
        )
        .orderBy("Nation")
    )


def tableau_g2_first_order_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.13 Graph2 twin: volume by day-of-month of the first order,
    colored by part-type breadth."""
    cvs = materialized_view(spark, sf_dir)
    return (
        cvs.groupBy(F.dayofmonth("First_Order_Date").alias("first_order_day"))
        .agg(
            F.sum("Total_Line_Items").alias("Total_Line_Items"),
            F.sum("Total_Part_Types").alias("Total_Part_Types"),
        )
        .orderBy("first_order_day")
    )


def tableau_g3_revenue_by_category(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.13 Graph3 twin (box/strip plot): the per-customer revenue
    points grouped by most-frequent type — a projection, the chart does
    the distribution rendering."""
    cvs = materialized_view(spark, sf_dir)
    return cvs.select(
        "Most_Frequent_Part_Type", "Customer_ID", "Total_Revenue"
    ).orderBy("Most_Frequent_Part_Type", "Customer_ID")


def tableau_g4_late_fees_by_category(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.13 Graph4 twin (bubble chart): late fees summed per
    most-frequent type."""
    cvs = materialized_view(spark, sf_dir)
    return (
        cvs.groupBy("Most_Frequent_Part_Type")
        .agg(
            F.round(F.sum(money(F.col("Total_Late_Fees"))), 2)
            .cast("double")
            .alias("Total_Late_Fees"),
            F.count("Customer_ID").alias("Customers"),
        )
        .orderBy(F.desc("Total_Late_Fees"))
    )


def tableau_g5_spend_by_type_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.13 Graph5 twin: average order spend stacked by most-frequent
    part type × year of last order."""
    cvs = materialized_view(spark, sf_dir)
    return (
        cvs.groupBy(
            "Most_Frequent_Part_Type",
            F.year("Last_Order_Date").alias("last_order_year"),
        )
        .agg(
            F.round(F.sum(money(F.col("Avg_Spending_Per_Order"))), 2)
            .cast("double")
            .alias("Sum_Avg_Spending"),
        )
        .orderBy("Most_Frequent_Part_Type", "last_order_year")
    )


def mfc_window_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 as a standalone window operator (§2.9): the reference's
    correlated ``ORDER BY COUNT(*) DESC LIMIT 1`` subquery
    (``queries_shan.sql:15-23``) decorrelated to row_number over a
    per-customer window. The view itself uses the cheaper
    min(struct(-cnt, type)) argmax fold; this form is registered so the
    window-function rewrite stays covered by the oracle gate."""
    t = load_tables(spark, sf_dir, names=("orders", "lineitem", "part"))
    return most_frequent_part_type(t)


def flagship_revenue_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship (SURVEY §7.1): revenue by region — scan, 4 joins (dims
    broadcast), decimal-exact agg, exact distinct, global sort.

    The distinct customer count is a two-level aggregation (partial by
    (region, custkey), final by region) instead of ``count_distinct``:
    same result, but no Expand row duplication, and the big shuffle
    gets map-side combine on the composite key — measurably faster
    locally and the shape that survives a 100× scale-up.
    """
    t = load_tables(
        spark, sf_dir, names=("customer", "nation", "region", "orders", "lineitem")
    )
    c, n, r, o, l = t["customer"], t["nation"], t["region"], t["orders"], t["lineitem"]
    partial = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(r.r_name.alias("Region"), c.c_custkey.alias("_ck"))
        .agg(
            sum_revenue(l).alias("_rev"),
            F.count(F.lit(1)).alias("_lines"),
        )
    )
    return (
        partial.groupBy("Region")
        .agg(
            F.round(F.sum("_rev"), 2).cast("double").alias("Total_Revenue"),
            F.count(F.lit(1)).alias("Total_Customers"),
            F.sum("_lines").alias("Total_Line_Items"),
        )
        .orderBy(F.desc("Total_Revenue"))
    )


# --------------------------------------------------------------------------
# Registry + DuckDB oracles
# --------------------------------------------------------------------------

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "view_customer_value_summary": materialized_view,
    "view_customer_value_summary_bucketed": _view_bucketed,
    "view_customer_value_summary_analyzed": _view_analyzed,
    "cbo_stats_revenue_by_customer": cbo_stats_revenue_by_customer,
    "q1_top_revenue_customers": q1_top_revenue_customers,
    "q1_full": q1_full,
    "q2_most_frequent_customers": q2_most_frequent_customers,
    "q3_top_late_fees": q3_top_late_fees,
    "q4_frequency_segmentation": q4_frequency_segmentation,
    "q5_churn_risk": q5_churn_risk,
    "q6_revenue_by_category": q6_revenue_by_category,
    "q7_customer_lifetime_value": q7_customer_lifetime_value,
    "q8_customer_cohorts": q8_customer_cohorts,
    "q9_revenue_by_nation": q9_revenue_by_nation,
    "q10_revenue_by_nation_region": q10_revenue_by_nation_region,
    "q11_avg_revenue_per_customer": q11_avg_revenue_per_customer,
    "mfc_window_top1": mfc_window_top1,
    "tableau_g1_country_map": tableau_g1_country_map,
    "tableau_g2_first_order_day": tableau_g2_first_order_day,
    "tableau_g3_revenue_by_category": tableau_g3_revenue_by_category,
    "tableau_g4_late_fees_by_category": tableau_g4_late_fees_by_category,
    "tableau_g5_spend_by_type_year": tableau_g5_spend_by_type_year,
    "flagship_revenue_by_region": flagship_revenue_by_region,
}

_Q11_AVG_SQL = round2_div_sql(
    "sum(CAST(Total_Revenue AS DECIMAL(18,2)))", "count(Customer_ID)", scale=2
)

ORACLES: dict[str, str] = {
    "view_customer_value_summary": VIEW_ORACLE_SQL,
    "cbo_stats_revenue_by_customer": CBO_REVENUE_SQL.format(
        region="region", nation="nation", customer="customer",
        orders="orders", lineitem="lineitem", part="part"),
    # same 13 columns from the bucketed fact layout — same oracle
    "view_customer_value_summary_bucketed": VIEW_ORACLE_SQL,
    # same 13 columns, CBO-planned over the ANALYZEd catalog — same oracle
    "view_customer_value_summary_analyzed": VIEW_ORACLE_SQL,
    "q1_top_revenue_customers": f"""{_VIEW_CTE}
        SELECT Customer_Name, Total_Revenue FROM cvs
        ORDER BY Total_Revenue DESC, Customer_Name ASC LIMIT 10""",
    "q1_full": f"""{_VIEW_CTE}
        SELECT Customer_Name, Total_Revenue FROM cvs
        ORDER BY Total_Revenue DESC, Customer_Name ASC""",
    "q2_most_frequent_customers": f"""{_VIEW_CTE}
        SELECT Customer_Name, Total_Orders FROM cvs ORDER BY Total_Orders DESC""",
    "q3_top_late_fees": f"""{_VIEW_CTE}
        SELECT Customer_Name, Total_Late_Fees FROM cvs
        ORDER BY Total_Late_Fees DESC""",
    "q4_frequency_segmentation": f"""{_VIEW_CTE}
        SELECT CASE WHEN Total_Orders >= {SEG_HIGH} THEN 'Frequent Customers'
                    WHEN Total_Orders BETWEEN {SEG_LOW} AND {SEG_HIGH - 1}
                         THEN 'Regular Customers'
                    ELSE 'Occasional Customers' END AS Order_Frequency_Group,
               count(Customer_ID) AS Customer_Count,
               {_SUM_REV_SQL} AS Total_Revenue
        FROM cvs GROUP BY 1 ORDER BY Total_Revenue DESC""",
    "q5_churn_risk": f"""{_VIEW_CTE}
        SELECT Customer_Name, Last_Order_Date FROM cvs
        WHERE Last_Order_Date < (DATE '{CHURN_ANCHOR}' - INTERVAL 6 MONTH)
        ORDER BY Last_Order_Date ASC""",
    "q6_revenue_by_category": f"""{_VIEW_CTE}
        SELECT Most_Frequent_Part_Type,
               count(Customer_ID) AS Customers_Who_Buy_This_Type,
               {_SUM_REV_SQL} AS Total_Revenue
        FROM cvs GROUP BY 1 ORDER BY Total_Revenue DESC""",
    "q7_customer_lifetime_value": f"""{_VIEW_CTE}
        SELECT Customer_Name, First_Order_Date, Last_Order_Date,
               {_SUM_REV_SQL} AS Lifetime_Spending
        FROM cvs GROUP BY 1, 2, 3 ORDER BY Lifetime_Spending DESC""",
    "q8_customer_cohorts": f"""{_VIEW_CTE}
        SELECT strftime(First_Order_Date, '%Y-%m') AS Customer_Cohort,
               count(Customer_ID) AS New_Customers,
               {_SUM_REV_SQL} AS Total_Revenue
        FROM cvs GROUP BY 1 ORDER BY Customer_Cohort""",
    "q9_revenue_by_nation": f"""{_VIEW_CTE}
        SELECT Customer_Nation AS Nation, count(Customer_ID) AS Total_Customers,
               {_SUM_REV_SQL} AS Total_Revenue
        FROM cvs GROUP BY 1 ORDER BY Total_Revenue DESC""",
    "q10_revenue_by_nation_region": f"""{_VIEW_CTE}
        SELECT Customer_Nation AS Nation, Customer_Region AS Region,
               count(Customer_ID) AS Total_Customers,
               {_SUM_REV_SQL} AS Total_Revenue
        FROM cvs GROUP BY 1, 2 ORDER BY Total_Revenue DESC""",
    "q11_avg_revenue_per_customer": f"""{_VIEW_CTE}
        SELECT Customer_Nation AS Nation, count(Customer_ID) AS Total_Customers,
               {_SUM_REV_SQL} AS Total_Revenue,
               {_Q11_AVG_SQL} AS Avg_Revenue_Per_Customer
        FROM cvs GROUP BY 1 ORDER BY Avg_Revenue_Per_Customer DESC""",
    "tableau_g1_country_map": f"""{_VIEW_CTE}
        SELECT Customer_Nation AS Nation,
               {_SUM_REV_SQL} AS Total_Revenue,
               CAST(round(sum(CAST(Total_Late_Fees AS DECIMAL(18,2))), 2)
                    AS DOUBLE) AS Total_Late_Fees
        FROM cvs GROUP BY 1 ORDER BY Nation""",
    "tableau_g2_first_order_day": f"""{_VIEW_CTE}
        SELECT day(CAST(First_Order_Date AS DATE)) AS first_order_day,
               CAST(sum(Total_Line_Items) AS BIGINT) AS Total_Line_Items,
               CAST(sum(Total_Part_Types) AS BIGINT) AS Total_Part_Types
        FROM cvs GROUP BY 1 ORDER BY first_order_day""",
    "tableau_g3_revenue_by_category": f"""{_VIEW_CTE}
        SELECT Most_Frequent_Part_Type, Customer_ID, Total_Revenue
        FROM cvs ORDER BY Most_Frequent_Part_Type, Customer_ID""",
    "tableau_g4_late_fees_by_category": f"""{_VIEW_CTE}
        SELECT Most_Frequent_Part_Type,
               CAST(round(sum(CAST(Total_Late_Fees AS DECIMAL(18,2))), 2)
                    AS DOUBLE) AS Total_Late_Fees,
               count(Customer_ID) AS Customers
        FROM cvs GROUP BY 1 ORDER BY Total_Late_Fees DESC""",
    "tableau_g5_spend_by_type_year": f"""{_VIEW_CTE}
        SELECT Most_Frequent_Part_Type,
               year(CAST(Last_Order_Date AS DATE)) AS last_order_year,
               CAST(round(sum(CAST(Avg_Spending_Per_Order AS DECIMAL(18,2))), 2)
                    AS DOUBLE) AS Sum_Avg_Spending
        FROM cvs GROUP BY 1, 2
        ORDER BY Most_Frequent_Part_Type, last_order_year""",
    "mfc_window_top1": """
        SELECT mfc_custkey, p_type AS Most_Frequent_Part_Type FROM (
            SELECT o.o_custkey AS mfc_custkey, p.p_type,
                   row_number() OVER (
                       PARTITION BY o.o_custkey
                       ORDER BY count(*) DESC, p.p_type ASC) AS rn
            FROM orders o
            JOIN lineitem l ON o.o_orderkey = l.l_orderkey
            JOIN part p ON l.l_partkey = p.p_partkey
            GROUP BY o.o_custkey, p.p_type
        ) WHERE rn = 1""",
    "flagship_revenue_by_region": """
        SELECT r.r_name AS Region,
               CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                   * (CAST(1.0 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(3,2)))), 2)
                   AS DOUBLE) AS Total_Revenue,
               count(DISTINCT c.c_custkey) AS Total_Customers,
               count(*) AS Total_Line_Items
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name ORDER BY Total_Revenue DESC""",
}

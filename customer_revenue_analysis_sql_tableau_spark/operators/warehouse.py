"""The analytical-view twin: ``customer_value_summary``.

Reference: ``customer_revenue_summary`` (``queries_shan.sql:7-42``) — an
8-table join chain + grouped aggregation + 3 correlated scalar subqueries.
Mapping onto driver testdata (TESTDATA.md):

    customer→address→city→country  →  customer→nation→region   (J1-J3)
    rental (fact, inner)           →  orders                    (J4)
    inventory→film (inner)         →  (o_orderdate carries the dates)
    LEFT JOIN payment              →  LEFT JOIN lineitem        (J7)
    LEFT JOIN film_category        →  LEFT JOIN part            (J8)
    film.rental_duration late-fee  →  ship later than order+7d  (A6)
    Most_Frequent_Category subquery→  top-1 p_type per customer (A1)

Deliberately replicated semantics (SURVEY.md §7.4 hazards):
- ``Total_Orders`` = COUNT(o.o_orderkey) counts POST-JOIN rows (the
  reference's COUNT(r.rental_id), ``queries_shan.sql:11``, counts join
  multiplicity by design — do not "fix" the fan-out).
- ``Total_Line_Items`` = COUNT(l.l_linenumber) is NULL-skipping after the
  left join (the COUNT(col) vs COUNT(*) distinction, A3).
- Late-fee CASE falls to ELSE 0 on NULL dates (183 open rentals in the
  reference; here: orders with no lineitem → NULL l_shipdate).
- A1 tie-break: (count DESC, p_type ASC) — deterministic, documented.
- First/Last_Order_Date fold into the main agg (A2): equivalent to the
  reference's correlated MIN/MAX because the left joins never drop an
  order row.

Scale posture: one shuffle for the main groupBy (keyed on customer), one
for the A1 sub-aggregation; nation/region/part broadcast; no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_tables, source_fingerprint
from ..functions.money import cents, money, round2_div, round2_div_sql
from ..session import scoped_conf

#: Days until a line counts as "late" (twin of film.rental_duration).
LATE_AFTER_DAYS = 7
#: Late fee per late day (reference: ``* 0.50``, queries_shan.sql:26).
LATE_FEE_RATE = "0.50"

#: The 13 output columns (mirrors data/dw.csv's 13-column shape).
VIEW_COLUMNS = [
    "Customer_ID",
    "Customer_Name",
    "Total_Orders",
    "Total_Revenue",
    "Avg_Spending_Per_Order",
    "Total_Part_Types",
    "Most_Frequent_Part_Type",
    "Total_Late_Fees",
    "First_Order_Date",
    "Last_Order_Date",
    "Total_Line_Items",
    "Customer_Nation",
    "Customer_Region",
]


def revenue_expr(l) -> "F.Column":
    """Exact line revenue: extendedprice × (1 − discount), scale-4 decimal."""
    one = F.lit(1.0).cast("decimal(3,2)")
    return money(l.l_extendedprice) * (one - l.l_discount.cast("decimal(3,2)"))


def sum_revenue(l) -> "F.Column":
    """SUM of line revenue via exact integer-cents math.

    Identical values to ``SUM(revenue_expr)`` (both are exact), but the
    per-row work and the aggregation buffer are plain longs instead of
    BigDecimals — ~30% faster on the hot path. price and discount are
    2-dp quantities, so ``price_cents × (100 − discount_cents)`` is
    revenue × 10⁴ exactly; the single decimal division happens once per
    GROUP, not per row. Long sums overflow only past 9·10¹⁴ dollars per
    group — far beyond any per-customer total (and the partial agg keys
    keep groups small at any scale factor).
    """
    price_c = cents(l.l_extendedprice)
    dc = cents(l.l_discount)
    raw = F.sum(price_c * (F.lit(100) - dc))
    return (raw.cast("decimal(38,0)") / F.lit(10000)).cast("decimal(38,4)")


def late_fee_expr(l, o) -> "F.Column":
    """Twin of the late-fee CASE (``queries_shan.sql:24-27``)."""
    days = F.datediff(F.to_date(l.l_shipdate), F.to_date(o.o_orderdate))
    rate = F.lit(LATE_FEE_RATE).cast("decimal(3,2)")
    return F.when(days > LATE_AFTER_DAYS, (days - LATE_AFTER_DAYS) * rate).otherwise(
        F.lit(0).cast("decimal(3,2)")
    )


def most_frequent_part_type(tables: dict[str, DataFrame]) -> DataFrame:
    """A1 decorrelation: the reference's correlated top-1 subquery
    (``queries_shan.sql:15-23``) rewritten as groupBy + window row_number.

    Partitioned by customer — no global window, scales with key count.
    """
    o, l, p = tables["orders"], tables["lineitem"], tables["part"]
    counts = (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy(o.o_custkey.alias("mfc_custkey"), p.p_type)
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("mfc_custkey").orderBy(F.desc("cnt"), F.asc("p_type"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("mfc_custkey", F.col("p_type").alias("Most_Frequent_Part_Type"))
    )


def partial_aggregate(
    o: DataFrame,
    l: DataFrame,
    p: DataFrame,
    hints: bool = True,
    fact_hint: str | None = None,
) -> DataFrame:
    """Level 1 of the view: per (customer, part-type) partials over the
    fact join ``orders ⟕ lineitem ⟕ part``.

    This frame IS the view's maintainable state: every measure is
    **mergeable** (sums of exact longs, min/max of dates), so partials
    computed over disjoint order batches can be re-aggregated with
    :func:`merge_partials` and finalized incrementally — the
    incremental-view-maintenance path in ``operators/incremental.py``.
    NULL p_type rows (orders with no lineitem / lineitem with no part)
    stay as their own group so post-join row counts are preserved
    exactly.

    Money state is **integer units end-to-end**: ``_rev`` in 10⁻⁴
    dollars, ``_late`` in cents — plain long sums through the shuffle,
    the merge, and the final per-customer fold, with the single decimal
    division deferred to :func:`finalize_summary`. Longs halve the
    shuffle bytes of a decimal buffer and stay in primitive codegen;
    overflow needs > 9·10¹⁴ dollars on one customer (documented bound,
    see :func:`sum_revenue`).

    ``fact_hint`` pins the o⋈l strategy (guide §3.1 — pick it
    deliberately). Left to the optimizer, the sf0.1 plan BROADCASTS
    lineitem (600 k rows × 6 cols fits the 64 MB threshold): a serial
    relation build on the critical path locally, and a plan shape that
    silently flips to sort-merge at real scale. The two callers that
    know their layout pin it instead (r15 A/B, min-of-5 interleaved):
    ``shuffle_hash`` on the plain scan layout (orders — always the
    ¼-size side of o⋈l — builds per partition, bounded by AQE partition
    sizing, same posture as the geo join below) measured 2.18 → 1.45 s;
    ``merge`` on the bucketed layout keeps the exchange-free sorted
    bucket join that the broadcast was silently discarding, 1.45 →
    1.26 s. Default ``None`` preserves optimizer choice for the
    incremental/streaming delta paths (tiny batch sides, broadcast is
    right there).
    """
    fact = (
        (o.hint(fact_hint) if fact_hint else o)
        .join(l, o.o_orderkey == l.l_orderkey, "left")  # J4+J7 twin
        # hints=False leaves strategy choice to the optimizer (the
        # CBO-planned variant feeds ANALYZEd tables instead of hints)
        .join(
            F.broadcast(p) if hints else p,
            l.l_partkey == p.p_partkey,
            "left",
        )  # J8 (left)
    )
    late_days = F.datediff(
        F.to_date(l.l_shipdate), F.to_date(o.o_orderdate)
    ) - F.lit(LATE_AFTER_DAYS)
    return fact.groupBy(
        o.o_custkey.alias("Customer_ID"), p.p_type
    ).agg(
        F.count(o.o_orderkey).alias("_orders"),  # A3: post-join rows
        F.sum(
            cents(l.l_extendedprice) * (F.lit(100) - cents(l.l_discount))
        ).alias("_rev"),  # 10^-4 dollars, long
        F.sum(
            F.when(late_days > 0, late_days).otherwise(0).cast("long") * 50
        ).alias("_late"),  # A6 partial, cents, long
        F.min(o.o_orderdate).alias("_min_d"),  # A2 partial
        F.max(o.o_orderdate).alias("_max_d"),
        F.count(l.l_linenumber).alias("_lines"),  # A3: NULL-skip
    )


def merge_partials(*states: DataFrame) -> DataFrame:
    """Merge partial-aggregate states from disjoint order batches.

    Exact because every measure is mergeable: long sums are
    associative (no float or decimal buffers anywhere in the state), min/max are
    idempotent-mergeable, and (Customer_ID, p_type) rows re-unique
    after the groupBy. ``merge(partial(A), partial(B)) ≡ partial(A∪B)``
    for disjoint A, B — asserted in tests/test_incremental.py.
    """
    merged = states[0]
    for s in states[1:]:
        merged = merged.unionByName(s)
    return merged.groupBy("Customer_ID", "p_type").agg(
        F.sum("_orders").alias("_orders"),
        F.sum("_rev").alias("_rev"),
        F.sum("_late").alias("_late"),
        F.min("_min_d").alias("_min_d"),
        F.max("_max_d").alias("_max_d"),
        F.sum("_lines").alias("_lines"),
    )


def customer_value_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the view (twin of ``queries_shan.sql:7-42``).

    Physical shape (100 TB posture): the fact join
    ``orders ⟕ lineitem ⟕ part`` is scanned ONCE and reduced by a
    two-level aggregation — partial groupBy ``(custkey, p_type)``
    (map-side combine shrinks the shuffle to ~customers × part-types),
    then a final groupBy ``custkey``. The A1 top-1-per-customer window
    and the ``Total_Part_Types`` distinct count both derive from the
    same partial aggregate, so no second pass over ``lineitem``
    (the naive form — separate plans for the main agg and the
    correlated-subquery rewrite — joins the facts twice). Geo dims
    (customer/nation/region) broadcast-join AFTER aggregation, so the
    wide strings never ride the big shuffle. Results are identical to
    the declarative 8-table form because every order has exactly one
    customer row (FK integrity, validated by the DuckDB oracle twin
    which keeps the reference's join order).
    """
    t = load_tables(
        spark, sf_dir, names=("customer", "nation", "region", "orders", "lineitem", "part")
    )
    c, n, r = t["customer"], t["nation"], t["region"]
    o, l, p = t["orders"], t["lineitem"], t["part"]

    partial = partial_aggregate(o, l, p, fact_hint="shuffle_hash")

    # Level 2: fold partials per customer. The A1 top-1-per-group
    # ("most frequent part type") folds into the SAME aggregate as an
    # argmax: min(struct(-count, p_type)) over the partial rows picks
    # (count DESC, p_type ASC) — the documented deterministic
    # tie-break — with no window, no second fact pass, and no extra
    # join. NULL p_type groups (orders with no lineitem) map to NULL
    # and are skipped by min(), so a customer whose only group is NULL
    # gets MFC = NULL, exactly what the reference's left join to the
    # correlated subquery yields.
    return finalize_summary(partial, c, n, r)


def _bucketed_fact_names(sf_dir: str) -> tuple[str, str]:
    """Warehouse table names for the bucketed fact layout, keyed by a
    hash of ``sf_dir`` so layouts built for different scale factors
    never shadow each other within one metastore."""
    import hashlib

    h = hashlib.md5(sf_dir.rstrip("/").encode()).hexdigest()[:8]
    return f"orders_by_okey_{h}", f"lineitem_by_okey_{h}"


def prepare_bucketed_facts(
    spark: SparkSession, sf_dir: str, buckets: int = 32
) -> None:
    """One-time bucketed fact layout for the view fill: ``orders`` and
    ``lineitem`` written bucketed+sorted on their join key
    (``sources/parquet.save_bucketed``), so the view's o⋈l join plans
    with NO Exchange and NO per-query sort — the shuffle is paid once
    at ingest. This is the write-once layout a recurring 100 TB view
    fill would sit on; bench measures the fill on both layouts
    (measured sf0.1 full-plan A/B: 2.58 s scan layout vs 1.76 s
    bucketed, −32 %)."""
    from ..sources.parquet import save_bucketed
    from ..streaming.statefs import delete_dir

    t = load_tables(
        spark, sf_dir, names=("orders", "lineitem"), register=False
    )
    o_name, l_name = _bucketed_fact_names(sf_dir)
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    for name, df, key in (
        (o_name, t["orders"], "o_orderkey"),
        (l_name, t["lineitem"], "l_orderkey"),
    ):
        # a fresh metastore + a leftover managed-table directory from an
        # earlier process makes saveAsTable refuse even under overwrite;
        # drop both sides first so the layout build is idempotent
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        delete_dir(spark, f"{warehouse}/{name}")
        save_bucketed(df, name, key, buckets)


def prepare_analyzed_catalog(
    spark: SparkSession,
    sf_dir: str,
    tables: tuple[str, ...] = (
        "region",
        "nation",
        "customer",
        "orders",
        "lineitem",
        "part",
    ),
) -> dict[str, str]:
    """Persist the sf tables to the warehouse catalog and run
    ``ANALYZE TABLE ... COMPUTE STATISTICS FOR ALL COLUMNS`` — the
    one-time statistics pass that lets the cost-based optimizer
    (``spark.sql.cbo.enabled``) pick join orders and build sides from
    measured row counts and NDVs instead of file-size heuristics.
    Returns {table: catalog_name}. Idempotent per (metastore,
    sf_dir-CONTENTS): the catalog name folds in
    :func:`..catalog.source_fingerprint`, so regenerating fixtures in
    place gets a fresh ingest + fresh ANALYZE instead of silently
    reusing a stale saveAsTable copy. Existing analyzed tables for the
    SAME contents are reused — ANALYZE re-runs only when the data
    changed."""
    from ..streaming.statefs import delete_dir

    h = source_fingerprint(sf_dir)
    t = load_tables(spark, sf_dir, names=tables, register=False)
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    out: dict[str, str] = {}
    for name in tables:
        cat = f"{name}_stats_{h}"
        out[name] = cat
        if spark.catalog.tableExists(cat):
            continue
        spark.sql(f"DROP TABLE IF EXISTS {cat}")
        delete_dir(spark, f"{warehouse}/{cat}")
        t[name].write.saveAsTable(cat)
        spark.sql(f"ANALYZE TABLE {cat} COMPUTE STATISTICS FOR ALL COLUMNS")
    return out


#: Cost-based optimizer with join reordering, held for the CBO-planned
#: entries while their frames materialize.
CBO_CONFS = {
    "spark.sql.cbo.enabled": "true",
    "spark.sql.cbo.joinReorder.enabled": "true",
}


#: Shared-dialect SQL core for the CBO-planned entry: identical text
#: runs on Spark (against the analyzed catalog tables) and DuckDB
#: (against the raw parquet views) — table names are the placeholders.
CBO_REVENUE_SQL = """
    SELECT c.c_custkey AS customer_id,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))), 2)
                AS DOUBLE) AS gross_revenue
    FROM {region} r
    JOIN {nation} n ON n.n_regionkey = r.r_regionkey
    JOIN {customer} c ON c.c_nationkey = n.n_nationkey
    JOIN {orders} o ON o.o_custkey = c.c_custkey
    JOIN {lineitem} l ON l.l_orderkey = o.o_orderkey
    JOIN {part} p ON p.p_partkey = l.l_partkey
    GROUP BY c.c_custkey
"""


def cbo_stats_revenue_by_customer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The CBO path as a REGISTRY entry: the unhinted 6-table
    join-aggregate, planned by the cost-based optimizer against
    ``ANALYZE``d catalog tables — join order and build sides chosen
    from measured row counts/NDVs, no hints, no hand-frozen order
    (``tests/test_cbo.py`` freezes what the optimizer picks). The frame
    is materialized (localCheckpoint) inside ``scoped_conf(CBO_CONFS)``,
    so the driver hash covers rows from the CBO-planned execution and
    no other entry's plan sees the confs. Money is DECIMAL-exact and
    cast once, the same text the DuckDB oracle runs against the raw
    parquet views."""
    names = prepare_analyzed_catalog(spark, sf_dir)
    with scoped_conf(spark, CBO_CONFS):
        return spark.sql(CBO_REVENUE_SQL.format(**names)).localCheckpoint()


def customer_value_summary_analyzed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """:func:`customer_value_summary` planned BY THE COST-BASED
    OPTIMIZER: the same 13-column fill, but the
    inputs are the ``ANALYZE``d catalog tables from
    :func:`prepare_analyzed_catalog` and the plan carries NO hints —
    no broadcast() on part/nation/region, no shuffle_hash on the geo
    join; with ``spark.sql.cbo.enabled`` + joinReorder on, strategy
    and build sides come from measured row counts/NDVs. Bench times
    this next to the hinted plan (they should coincide — CBO stats
    exist precisely to make hand-hints redundant); the catalog build +
    ANALYZE is ingest cost and runs untimed (bench.py preps it like
    the bucketed layout). Same output, same oracle as the view; the
    frame is materialized inside ``scoped_conf(CBO_CONFS)``, so no other
    entry's plan sees the confs."""
    names = prepare_analyzed_catalog(spark, sf_dir)
    with scoped_conf(spark, CBO_CONFS):
        t = {name: spark.table(cat) for name, cat in names.items()}
        partial = partial_aggregate(
            t["orders"], t["lineitem"], t["part"], hints=False
        )
        return finalize_summary(
            partial, t["customer"], t["nation"], t["region"], hints=False
        ).localCheckpoint()


def customer_value_summary_bucketed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """:func:`customer_value_summary` reading the bucketed fact layout
    (same output, same oracle); only the physical o⋈l strategy differs.
    Self-contained: builds the layout via
    :func:`prepare_bucketed_facts` on first use per (metastore,
    sf_dir), so the registry entry runs anywhere."""
    o_name, l_name = _bucketed_fact_names(sf_dir)
    if not spark.catalog.tableExists(o_name):
        prepare_bucketed_facts(spark, sf_dir)
    t = load_tables(
        spark, sf_dir, names=("customer", "nation", "region", "part")
    )
    return finalize_summary(
        partial_aggregate(
            spark.table(o_name),
            spark.table(l_name),
            t["part"],
            fact_hint="merge",
        ),
        t["customer"],
        t["nation"],
        t["region"],
    )


def finalize_summary(
    partial: DataFrame,
    c: DataFrame,
    n: DataFrame,
    r: DataFrame,
    hints: bool = True,
) -> DataFrame:
    """Level 2 of the view: fold (customer, part-type) partials into the
    13-column summary and attach geo dims. Shared by the one-shot build
    above and the incremental-maintenance path (``incremental.py``)."""
    mfc_pick = F.min(
        F.when(
            F.col("p_type").isNotNull(),
            F.struct(
                (-F.col("_orders")).alias("neg_cnt"),
                F.col("p_type").alias("p_type"),
            ),
        )
    )
    rev_sum = (F.sum("_rev").cast("decimal(38,0)") / F.lit(10**4)).cast(
        "decimal(38,4)"
    )  # long 10^-4 dollars → exact decimal, one division per customer
    late_sum = (F.sum("_late").cast("decimal(38,0)") / F.lit(100)).cast(
        "decimal(38,2)"
    )
    grouped = partial.groupBy("Customer_ID").agg(
        F.sum("_orders").alias("Total_Orders"),
        rev_sum.alias("_rev_sum"),
        F.count("p_type").alias("Total_Part_Types"),  # A4: partial rows
        # are distinct (custkey, p_type) pairs; count(col) skips NULL
        mfc_pick.alias("_mfc"),  # A1
        F.round(
            F.coalesce(late_sum, F.lit(0).cast("decimal(3,2)")), 2
        )
        .cast("double")
        .alias("Total_Late_Fees"),  # A6
        F.min("_min_d").alias("First_Order_Date"),  # A2
        F.max("_max_d").alias("Last_Order_Date"),
        F.sum("_lines").alias("Total_Line_Items"),
    )

    # J1-J3 twin. The grouped⋈geo join is per-customer on BOTH sides
    # (aggregated partials vs the customer dim), so neither side is
    # broadcastable at true scale; shuffle_hash builds the 4-column geo
    # side per partition (bounded by partition sizing, SCALE.md) and
    # skips sort-merge's two sort passes over per-customer rows.
    geo = (
        c.join(F.broadcast(n) if hints else n, c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r) if hints else r, n.n_regionkey == r.r_regionkey)
    )
    if hints:
        geo = geo.hint("shuffle_hash")

    out = (
        grouped.withColumn("Most_Frequent_Part_Type", F.col("_mfc.p_type"))
        .join(geo, grouped.Customer_ID == c.c_custkey)
        .withColumn("Customer_Name", c.c_name)
        .withColumn("Customer_Nation", n.n_name)
        .withColumn("Customer_Region", r.r_name)
        .withColumn("Total_Revenue", F.round(F.col("_rev_sum"), 2).cast("double"))
        .withColumn(
            "Avg_Spending_Per_Order",
            round2_div(F.col("_rev_sum"), F.col("Total_Orders")),
        )
        .select(*VIEW_COLUMNS)
    )
    return out


# --------------------------------------------------------------------------
# DuckDB oracle twin (ANSI SQL). Kept adjacent to the builder so the two
# definitions evolve together; q1-q11 oracles reuse it as a CTE.
# --------------------------------------------------------------------------

_AVG_SQL = round2_div_sql("_rev_sum", "Total_Orders")

VIEW_ORACLE_SQL = f"""
WITH mfc AS (
    SELECT mfc_custkey, p_type AS Most_Frequent_Part_Type FROM (
        SELECT o.o_custkey AS mfc_custkey, p.p_type,
               row_number() OVER (
                   PARTITION BY o.o_custkey
                   ORDER BY count(*) DESC, p.p_type ASC) AS rn
        FROM orders o
        JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY o.o_custkey, p.p_type
    ) WHERE rn = 1
), grouped AS (
    SELECT
        c.c_custkey AS Customer_ID,
        c.c_name    AS Customer_Name,
        n.n_name    AS Customer_Nation,
        r.r_name    AS Customer_Region,
        count(o.o_orderkey) AS Total_Orders,
        sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
            * (CAST(1.0 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(3,2))))
            AS _rev_sum,
        count(DISTINCT p.p_type) AS Total_Part_Types,
        CAST(round(coalesce(sum(
            CASE WHEN date_diff('day', CAST(o.o_orderdate AS DATE),
                                CAST(l.l_shipdate AS DATE)) > {LATE_AFTER_DAYS}
                 THEN (date_diff('day', CAST(o.o_orderdate AS DATE),
                                 CAST(l.l_shipdate AS DATE)) - {LATE_AFTER_DAYS})
                      * CAST({LATE_FEE_RATE} AS DECIMAL(3,2))
                 ELSE CAST(0 AS DECIMAL(3,2)) END),
            CAST(0 AS DECIMAL(3,2))), 2) AS DOUBLE) AS Total_Late_Fees,
        min(o.o_orderdate) AS First_Order_Date,
        max(o.o_orderdate) AS Last_Order_Date,
        count(l.l_linenumber) AS Total_Line_Items
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    JOIN orders o ON c.c_custkey = o.o_custkey
    LEFT JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    LEFT JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY c.c_custkey, c.c_name, n.n_name, r.r_name
)
SELECT
    Customer_ID, Customer_Name, Total_Orders,
    CAST(round(_rev_sum, 2) AS DOUBLE) AS Total_Revenue,
    {_AVG_SQL} AS Avg_Spending_Per_Order,
    Total_Part_Types, Most_Frequent_Part_Type, Total_Late_Fees,
    First_Order_Date, Last_Order_Date, Total_Line_Items,
    Customer_Nation, Customer_Region
FROM grouped LEFT JOIN mfc ON grouped.Customer_ID = mfc.mfc_custkey
"""

"""``warehouse``: an analyst browsing the app.

Closed loop, one client, in passes. A pass runs every op kind once in
a seeded order: q1-q11, the flagship query, TPC-H style entries and the
app-layer operators over the cached view, with parameters drawn from
the seed. Each pass starts by evicting and refilling the memoized view
(a cold fill, timed as ``view_fill``). Every op ends in
``collect()`` or the app function's own driver action, because the app
shows rows.
"""

from __future__ import annotations

import csv
import io
import statistics
import time

from pyspark.sql import functions as F

import verify

PKG = "customer_revenue_analysis_sql_tableau_spark"
SF = 0.1
QUERIES = [
    "q1_top_revenue_customers", "q2_most_frequent_customers",
    "q3_top_late_fees", "q4_frequency_segmentation", "q5_churn_risk",
    "q6_revenue_by_category", "q7_customer_lifetime_value", "q8_customer_cohorts",
    "q9_revenue_by_nation", "q10_revenue_by_nation_region",
    "q11_avg_revenue_per_customer", "flagship_revenue_by_region",
    "tpch_q1_pricing_summary", "tpch_q3_shipping_priority",
    "tpch_q6_forecast_revenue",
    "tpch_q18_large_volume_customers",
]
APP_OPS = ["any_column_contains", "range_filter", "top_n_filter", "column_bounds", "csv_bytes"]
VIEW = "view_customer_value_summary"
STRING_COLS = ["Customer_Name", "Most_Frequent_Part_Type", "Customer_Nation", "Customer_Region"]
RANGE_COLS = ["Total_Orders", "Total_Revenue", "Avg_Spending_Per_Order", "Total_Late_Fees", "Total_Line_Items"]
TOPN_COLS = ["Customer_Nation", "Customer_Region", "Most_Frequent_Part_Type", "Total_Part_Types"]


def sfs(smoke: bool) -> list[float]:
    return [0.001 if smoke else SF]


def prepare_oracles(oracle) -> None:
    import __spark_entry__ as entry

    sql = entry.oracle_sql()
    for name in QUERIES + [VIEW]:
        oracle.get(name, sql[name])


def _module(fn) -> str:
    return fn.__module__.removeprefix(PKG + ".")


def setup(ctx) -> None:
    import __spark_entry__ as entry
    from customer_revenue_analysis_sql_tableau_spark.catalog import load_tables

    ctx.queries = {n: entry.queries()[n] for n in QUERIES}
    load_tables(ctx.spark, ctx.sf_dir)
    op = _fill(ctx)
    view = ctx.rec.run("view_rows", "operators.queries", lambda o: _view_rows(ctx, o))
    if op.ok and view.ok:
        for name in QUERIES:
            _query(ctx, name)
        for name in APP_OPS:
            _app(ctx, name)


def _view_rows(ctx, op):
    """Collect the cached view once and check it against its oracle; the
    app-layer checks replay on these rows."""
    from customer_revenue_analysis_sql_tableau_spark.operators.queries import materialized_view

    with op.span("build"):
        v = materialized_view(ctx.spark, ctx.sf_dir)
    with op.span("action"):
        rows = v.collect()
    with ctx.rec.checking():
        got = verify.digest(v.columns, rows)
        if got != ctx.oracle.want[VIEW]:
            raise AssertionError(f"view digest {got} != oracle {ctx.oracle.want[VIEW]}")
        ctx.view_cols = v.columns
        ctx.view_rows = [r.asDict() for r in rows]
        ctx.view_id_sum = sum(r["Customer_ID"] for r in ctx.view_rows)


def _fill(ctx):
    from customer_revenue_analysis_sql_tableau_spark.operators.queries import (
        evict_view, materialized_view,
    )

    def run(op):
        with op.span("build"):
            evict_view(ctx.spark, ctx.sf_dir)
            v = materialized_view(ctx.spark, ctx.sf_dir)
        with op.span("action"):
            n = v.count()
        return v, n

    op = ctx.rec.run("view_fill", "operators.queries", run)
    if op.ok and hasattr(ctx, "view_rows"):
        v, n = op.result
        with ctx.rec.checking():
            s = v.agg(F.sum("Customer_ID")).collect()[0][0]
        if n != len(ctx.view_rows) or s != ctx.view_id_sum:
            ctx.rec.fail(op, f"view fill rows {n}/{s} != {len(ctx.view_rows)}/{ctx.view_id_sum}")
    op.result = None
    return op


def _query(ctx, name):
    fn = ctx.queries[name]

    def run(op):
        with op.span("build"):
            df = fn(ctx.spark, ctx.sf_dir)
        with op.span("action"):
            rows = df.collect()
        return df.columns, rows

    op = ctx.rec.run(name, _module(fn), run)
    if op.ok:
        with ctx.rec.checking():
            got = verify.digest(*op.result)
        if got != ctx.oracle.want[name]:
            ctx.rec.fail(op, f"digest {got} != oracle {ctx.oracle.want[name]}")
    op.result = None
    return op


# -- app-layer ops: parameters from the seed, checked by replaying the
#    same semantics in Python over the oracle-checked view rows ----------


def _pick_needle(ctx) -> str:
    while True:
        row = ctx.rng.choice(ctx.view_rows)
        s = str(row[ctx.rng.choice(STRING_COLS)]).lower()
        k = ctx.rng.randint(3, 6)
        i = ctx.rng.randint(0, max(0, len(s) - k))
        needle = s[i:i + k]
        if sum(c.isalpha() for c in needle) >= 2:
            return needle


def _app(ctx, name):
    from customer_revenue_analysis_sql_tableau_spark import app_layer
    from customer_revenue_analysis_sql_tableau_spark.operators.queries import materialized_view

    with ctx.rec.checking():
        call, want, limit = _app_params(ctx, name)

    def run(op):
        with op.span("build"):
            v = materialized_view(ctx.spark, ctx.sf_dir)
            df = call(v) if call else v
        with op.span("action"):
            if name == "column_bounds":
                return app_layer.column_bounds(df)
            if name == "csv_bytes":
                return app_layer.csv_bytes(df.orderBy("Customer_ID"), limit)
            return df.columns, df.collect()

    op = ctx.rec.run(name, "app_layer", run)
    if op.ok:
        res, op.result = op.result, None
        with ctx.rec.checking():
            ok = _app_check(ctx, op, name, res, want)
        if not ok:
            ctx.rec.fail(op, f"{name}: output differs from the replay over the view rows")
    return op


def _app_params(ctx, name):
    """Seeded parameters of an app-layer op: the call to make on the
    view, the view rows it should return and the csv row limit."""
    from customer_revenue_analysis_sql_tableau_spark import app_layer

    rows = ctx.view_rows
    rng = ctx.rng
    want, limit = None, None
    if name == "any_column_contains":
        needle = _pick_needle(ctx)
        want = [r for r in rows if any(needle in str(r[c]).lower() for c in STRING_COLS)]
        call = lambda v: app_layer.any_column_contains(v, needle)
    elif name == "range_filter":
        col = rng.choice(RANGE_COLS)
        lo, hi = sorted(float(rng.choice(rows)[col]) for _ in range(2))
        want = [r for r in rows if r[col] is not None and lo <= float(r[col]) <= hi]
        call = lambda v: app_layer.range_filter(v, col, lo, hi)
    elif name == "top_n_filter":
        col = rng.choice(TOPN_COLS)
        n = rng.randint(1, 8)
        counts: dict = {}
        for r in rows:
            counts[r[col]] = counts.get(r[col], 0) + 1
        top = {k for k, _ in sorted(counts.items(), key=lambda kv: (-kv[1], kv[0] is None, kv[0]))[:n]}
        want = [r for r in rows if r[col] in top]
        call = lambda v: app_layer.top_n_filter(v, col, n)
    elif name == "column_bounds":
        call = None
    else:  # csv_bytes
        limit = rng.randint(100, 5000)
        want = sorted(r["Customer_ID"] for r in rows)[:limit]
        call = None
    return call, want, limit


def _app_check(ctx, op, name, res, want) -> bool:
    rows = ctx.view_rows
    if name == "column_bounds":
        numeric = [c for c in ctx.view_cols if c in res]
        exp = {c: (min(r[c] for r in rows), max(r[c] for r in rows)) for c in numeric}
        ok = set(res) == set(exp) and all(
            verify.canon(tuple(res[c])) == verify.canon(exp[c]) for c in exp
        )
        op.rows = 1
    elif name == "csv_bytes":
        parsed = list(csv.reader(io.StringIO(res.decode("utf-8"))))
        ok = parsed[0] == ctx.view_cols and [int(r[0]) for r in parsed[1:]] == want
        op.rows = len(parsed) - 1
    else:
        cols, got = res
        exp_rows = [tuple(r[c] for c in cols) for r in want]
        ok = verify.digest(cols, got) == verify.digest(cols, exp_rows)
        op.rows = len(got)
    return ok


def measure(ctx, seconds: float) -> None:
    """Whole passes: a cold view fill, then every op kind once in seeded
    order; another pass starts only if it should end within ``seconds``.
    A unit's time is the sum of its op latencies, so the output checks
    between ops do not count."""
    t_end = time.perf_counter() + seconds
    wall = 0.0
    while not ctx.units or time.perf_counter() + wall <= t_end:
        t0, first = time.perf_counter(), len(ctx.rec.ops)
        order = QUERIES + APP_OPS
        ctx.rng.shuffle(order)
        _fill(ctx)
        for name in order:
            (_query if name in QUERIES else _app)(ctx, name)
        wall = time.perf_counter() - t0
        ctx.units.append(sum(o.wall_s for o in ctx.rec.ops[first:]))
        ctx.unit_cpu.append(sum(o.cpu_s for o in ctx.rec.ops[first:]))
    _layers(ctx)


def _layers(ctx) -> None:
    ops = [o for o in ctx.rec.ops if o.measured and o.ok]
    app = [o for o in ops if o.module == "app_layer"]
    ctx.layer["app_layer.driver_rows"] = statistics.fmean(o.rows for o in app) if app else 0.0


def metrics(ctx) -> dict[str, float]:
    ops = [o for o in ctx.rec.ops if o.measured and o.ok]
    warm = [o.wall_s * 1000.0 for o in ops if o.name != "view_fill"]
    fills = [o.wall_s for o in ops if o.name == "view_fill"]
    return {
        "query_p50_ms": statistics.median(warm),
        "query_p90_ms": statistics.quantiles(warm, n=10, method="inclusive")[8],
        "view_fill_s": statistics.median(fills),
    }

"""Golden replay: reference data/*.csv as executable assertions.

Parses the reference's own Sakila dump (``sql/sakila-data.sql``), builds
``customer_revenue_summary`` and q1-q11 with the Spark engine
(:mod:`customer_revenue_analysis_sql_tableau_spark.operators.sakila`), and compares every row
against the golden CSVs the reference committed (SURVEY.md §5.2/§5.3.3).

Comparison is order-insensitive (multiset of stringified rows): the
goldens' ORDER BY has nondeterministic tie order, and MySQL's
``LIMIT 1`` tie-break in ``Most_Frequent_Category`` is
order-of-evaluation-dependent (queries_shan.sql:22-23). Where our
deterministic tie-break (count DESC, name ASC) picks a different
category than the golden, the test proves the divergence is a genuine
tie (equal per-customer rental counts for both categories).
"""

from __future__ import annotations

import csv
import datetime
import decimal
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from customer_revenue_analysis_sql_tableau_spark.operators import sakila

GOLDEN_DIR = Path("/root/reference/data")

pytestmark = [
    pytest.mark.skipif(
        not Path(sakila.REFERENCE_DUMP).exists(),
        reason=f"reference dump {sakila.REFERENCE_DUMP} not present",
    ),
    pytest.mark.skipif(
        not GOLDEN_DIR.exists(), reason=f"reference goldens {GOLDEN_DIR} not present"
    ),
]

# Columns whose golden formatting is fixed-2-decimal money.
_MONEY = {
    "Total_Revenue",
    "Avg_Spending_Per_Rental",
    "Total_Late_Fees",
    "Lifetime_Spending",
    "Avg_Revenue_Per_Customer",
}


def _fmt(col: str, v) -> str:
    if v is None:
        return ""
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S")
    if col in _MONEY or isinstance(v, decimal.Decimal):
        return f"{decimal.Decimal(str(v)):.2f}"
    return str(v)


def _df_rows(df) -> tuple[list[str], list[tuple[str, ...]]]:
    cols = df.columns
    return cols, [tuple(_fmt(c, row[c]) for c in cols) for row in df.collect()]


def _golden_rows(name: str) -> tuple[list[str], list[tuple[str, ...]]]:
    with open(GOLDEN_DIR / name, newline="", encoding="utf-8") as fh:
        reader = csv.reader(fh)
        header = next(reader)
        rows = []
        for raw in reader:
            rows.append(
                tuple(
                    f"{decimal.Decimal(v):.2f}" if col in _MONEY and v else v
                    for col, v in zip(header, raw)
                )
            )
    return header, rows


@pytest.fixture(scope="session")
def sakila_tables(spark):
    return sakila.load_reference_tables(spark)


@pytest.fixture(scope="session")
def sakila_view(spark, sakila_tables):
    view = sakila.customer_revenue_summary(spark, sakila_tables).cache()
    view.count()
    yield view
    view.unpersist()


def _category_counts(tables) -> dict[tuple[int, str], int]:
    r, i = tables["rental"], tables["inventory"]
    fc, cat = tables["film_category"], tables["category"]
    rows = (
        r.join(i, "inventory_id")
        .join(fc, "film_id")
        .join(cat, "category_id")
        .groupBy(r.customer_id, cat.name)
        .count()
        .collect()
    )
    return {(row["customer_id"], row["name"]): row["count"] for row in rows}


def test_view_matches_golden_dw(sakila_view, sakila_tables):
    cols, ours = _df_rows(sakila_view)
    gcols, golden = _golden_rows("dw.csv")
    assert cols == gcols
    assert len(ours) == len(golden) == 599

    by_id_ours = {r[0]: r for r in ours}
    by_id_gold = {r[0]: r for r in golden}
    assert by_id_ours.keys() == by_id_gold.keys()

    mfc_idx = cols.index("Most_Frequent_Category")
    tie_divergences = []
    for cid in by_id_gold:
        o, g = by_id_ours[cid], by_id_gold[cid]
        # Every column except the tie-hazard one must match exactly.
        o_rest = o[:mfc_idx] + o[mfc_idx + 1 :]
        g_rest = g[:mfc_idx] + g[mfc_idx + 1 :]
        assert o_rest == g_rest, f"customer {cid}: {o} != {g}"
        if o[mfc_idx] != g[mfc_idx]:
            tie_divergences.append((int(cid), o[mfc_idx], g[mfc_idx]))

    if tie_divergences:
        counts = _category_counts(sakila_tables)
        for cid, ours_cat, gold_cat in tie_divergences:
            oc = counts.get((cid, ours_cat))
            gc = counts.get((cid, gold_cat))
            assert oc == gc, (
                f"customer {cid}: picked {ours_cat}({oc}) vs golden "
                f"{gold_cat}({gc}) — not a tie, a real bug"
            )
    # (count DESC, first rental ASC) reproduces MySQL's observed pick for
    # 593/599 customers; the 6 residuals (proven ties above) are customers
    # 164, 176, 189, 203, 438, 464 where MySQL's temptable order is not
    # reproducible by any deterministic per-group key.
    assert len(tie_divergences) <= 6


@pytest.mark.parametrize("name", [n for n in sakila.GOLDEN_QUERIES if n != "q6"])
def test_query_matches_golden(sakila_view, name):
    fn, csv_name = sakila.GOLDEN_QUERIES[name]
    cols, ours = _df_rows(fn(sakila_view))
    gcols, golden = _golden_rows(csv_name)
    assert cols == gcols, f"{name}: columns {cols} != golden {gcols}"
    assert sorted(ours) == sorted(golden), f"{name}: row multiset mismatch"


def test_q6_matches_golden_modulo_tiebreak(spark, sakila_view):
    """q6 groups by Most_Frequent_Category, so the 6 irreproducible
    MySQL tie-break rows (see test_view_matches_golden_dw) shift its
    per-category counts. Patch our view with the golden MFC column —
    then q6 must reproduce data/q6.csv exactly, proving everything in
    q6 except the tie-break (which the dw test already bounds)."""
    gcols, golden_dw = _golden_rows("dw.csv")
    mfc_idx = gcols.index("Most_Frequent_Category")
    patch = spark.createDataFrame(
        [(int(r[0]), r[mfc_idx]) for r in golden_dw],
        "Customer_ID int, Golden_MFC string",
    )
    patched = (
        sakila_view.join(patch, "Customer_ID")
        .drop("Most_Frequent_Category")
        .withColumnRenamed("Golden_MFC", "Most_Frequent_Category")
    )
    cols, ours = _df_rows(sakila.q6(patched))
    gcols6, golden = _golden_rows("q6.csv")
    assert cols == gcols6
    assert sorted(ours) == sorted(golden)


def test_q1_top10_variant(sakila_view):
    """The SQL has LIMIT 10 (queries_shan.sql:52); the golden export
    ignored it. The limited variant must be the top-10 by revenue."""
    top = sakila.q1(sakila_view, limit=True).collect()
    assert len(top) == 10
    revenues = [r["Total_Revenue"] for r in top]
    assert revenues == sorted(revenues, reverse=True)
    assert top[0]["Customer_Name"] == "KARL SEAL"
    assert f"{top[0]['Total_Revenue']:.2f}" == "221.55"


def test_view_spot_checks(sakila_view):
    """SURVEY.md §5.2 pinned values."""
    row = sakila_view.filter(F.col("Customer_ID") == 1).collect()[0]
    assert row["Customer_Name"] == "MARY SMITH"
    assert row["Total_Rentals"] == 32
    assert f"{row['Total_Revenue']:.2f}" == "118.68"
    assert f"{row['Avg_Spending_Per_Rental']:.2f}" == "3.71"
    assert row["Total_Categories_Rented"] == 14
    assert f"{row['Total_Late_Fees']:.2f}" == "12.50"
    assert row["Total_Payments"] == 32
    assert row["Customer_City"] == "Sasebo"
    assert row["Customer_Country"] == "Japan"

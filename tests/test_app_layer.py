"""App-layer dataflow operators (§2.12) — unit tests + reference-file
parse check. The oracle-gated entries (app_*) are covered by
test_oracle_parity.py via the registry."""

from __future__ import annotations

from pathlib import Path

import pytest

from customer_revenue_analysis_sql_tableau_spark import app_layer

REFERENCE_SQL = Path("/root/reference/queries_shan.sql")


@pytest.mark.skipif(
    not REFERENCE_SQL.exists(), reason=f"reference SQL {REFERENCE_SQL} not present"
)
def test_parse_sql_blocks_on_reference_file():
    """S7: the parser must find all 11 annotated queries in the
    reference's own SQL file (`data-mgmt-streamlit.py:24-43` behavior)."""
    blocks = app_layer.parse_sql_blocks(REFERENCE_SQL.read_text())
    assert [b["num"] for b in blocks] == list(range(1, 12))
    assert blocks[0]["title"] == "Top 10 Revenue-Generating Customers"
    assert "SELECT" in blocks[0]["body"]
    # bodies must not bleed into the next header
    assert "-- Query 2" not in blocks[0]["body"]


def test_build_catalog_intersects_registry():
    text = "-- Query 1: A\nSELECT 1;\n-- Query 2: B\nSELECT 2;\n-- Query 9: C\nSELECT 9;"
    registry = {"q1": object(), "q9": object()}
    cat = app_layer.build_catalog(text, registry)
    assert [c["num"] for c in cat] == [1, 9]
    assert cat[0]["query"] is registry["q1"]


def test_any_column_contains(spark):
    df = spark.createDataFrame(
        [(1, "Alpha", 10.5), (2, "beta", 20.0), (3, None, 30.0)],
        "id int, name string, v double",
    )
    assert {r["id"] for r in app_layer.any_column_contains(df, "ALPHA").collect()} == {1}
    # numeric columns participate via their string form
    assert {r["id"] for r in app_layer.any_column_contains(df, "20").collect()} == {2}
    # NULL column never matches, row with NULLs still reachable via others
    assert {r["id"] for r in app_layer.any_column_contains(df, "3").collect()} == {3}
    # empty needle = no-op
    assert app_layer.any_column_contains(df, "  ").count() == 3


def test_numeric_columns_and_bounds(spark):
    df = spark.createDataFrame(
        [(1, "a", 2.5), (4, "b", 0.5)], "id int, s string, v double"
    )
    assert app_layer.numeric_columns(df) == ["id", "v"]
    bounds = app_layer.column_bounds(df)
    assert bounds["id"] == (1, 4)
    assert bounds["v"] == (0.5, 2.5)


def test_range_filter_coerces_like_to_numeric(spark):
    df = spark.createDataFrame(
        [("1", 1), ("xx", 2), ("7", 3), (None, 4)], "v string, id int"
    )
    kept = {r["id"] for r in app_layer.range_filter(df, "v", 0, 5).collect()}
    assert kept == {1}  # 'xx' and NULL coerce to NULL and drop; 7 > hi


def test_preview_and_metrics(spark):
    df = spark.range(250).withColumnRenamed("id", "x")
    assert app_layer.preview(df, 100).count() == 100
    assert app_layer.summary_metrics(df) == {"rows": 250, "columns": 1}


def test_top_n_filter(spark):
    rows = [("a",)] * 5 + [("b",)] * 3 + [("c",)] * 2 + [("d",)] * 1
    df = spark.createDataFrame(rows, "k string")
    kept = app_layer.top_n_filter(df, "k", 2)
    assert {r["k"] for r in kept.collect()} == {"a", "b"}
    assert kept.count() == 8


def test_dedupe_columns(spark):
    a = spark.createDataFrame([(1, 2)], "x int, y int")
    b = spark.createDataFrame([(1, 9, 3)], "x int, y int, z int")
    joined = a.join(b, a.x == b.x).select(a.x, a.y, b.y, b.z)  # duplicate 'y'
    deduped = app_layer.dedupe_columns(joined)
    assert deduped.columns == ["x", "y", "z"]
    assert deduped.collect()[0]["y"] == 2  # first occurrence wins


def test_csv_bytes_roundtrip(spark):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, s string")
    data = app_layer.csv_bytes(df.orderBy("id"))
    assert data.decode("utf-8").splitlines() == ["id,s", "1,a", "2,b"]

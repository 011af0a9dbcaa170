"""The Spark-SQL surface must agree row-for-row with the DataFrame
builders on the reference's own data (entry point A, SURVEY §3.1)."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

from oracle_check import compare_frames  # noqa: E402

from customer_revenue_analysis_sql_tableau_spark import sql_workload
from customer_revenue_analysis_sql_tableau_spark.operators import sakila

pytestmark = pytest.mark.skipif(
    not Path(sakila.REFERENCE_DUMP).exists(),
    reason=f"reference dump {sakila.REFERENCE_DUMP} not present",
)


@pytest.fixture(scope="module")
def sql_env(spark):
    tables = sakila.load_reference_tables(spark)  # registers temp views
    sql_workload.register_view_sql(spark)
    view_df = sakila.customer_revenue_summary(spark, tables).cache()
    view_df.count()
    yield spark, view_df
    view_df.unpersist()


def test_view_sql_equals_dataframe_builder(sql_env):
    spark, view_df = sql_env
    sql_pd = spark.table("customer_revenue_summary").toPandas()
    df_pd = view_df.toPandas()
    problems = compare_frames(sql_pd, df_pd)
    assert not problems, problems
    assert len(sql_pd) == 599


@pytest.mark.parametrize("name", [n for n in sakila.GOLDEN_QUERIES])
def test_query_sql_equals_dataframe_builder(sql_env, name):
    spark, view_df = sql_env
    fn, _ = sakila.GOLDEN_QUERIES[name]
    sql_pd = sql_workload.run_query_sql(spark, name).toPandas()
    df_pd = fn(view_df).toPandas()
    problems = compare_frames(sql_pd, df_pd)
    assert not problems, f"{name}: {problems}"


def test_q1_top10_sql(sql_env):
    spark, _ = sql_env
    rows = sql_workload.run_query_sql(spark, "q1_top10").collect()
    assert len(rows) == 10
    assert rows[0]["Customer_Name"] == "KARL SEAL"

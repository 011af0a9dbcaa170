"""Runtime Bloom-filter join pruning (r11): plan injection under the
at-scale confs, absence under stock confs, and semantic neutrality."""

from __future__ import annotations

from pyspark.sql import functions as F

from customer_revenue_analysis_sql_tableau_spark.catalog import load_tables
from customer_revenue_analysis_sql_tableau_spark.operators import relational as rel
from customer_revenue_analysis_sql_tableau_spark.session import scoped_conf


def _pruned_plan(spark, sf_dir: str) -> str:
    """The entry's join plan compiled under the bloom confs (the entry
    itself returns a localCheckpoint, which hides the original plan)."""
    # load first — load_tables re-applies the runtime confs
    t = load_tables(spark, sf_dir, names=("orders", "lineitem"))
    sel = (
        t["orders"]
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
    )
    j = (
        t["lineitem"]
        .join(sel, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n_lines"))
    )
    with scoped_conf(spark, rel.BLOOM_FILTER_CONFS):
        return j._jdf.queryExecution().executedPlan().toString()


def test_bloom_filter_injected_under_scale_confs(spark, sf_dir):
    plan = _pruned_plan(spark, sf_dir)
    assert "bloom_filter_agg" in plan
    assert "might_contain" in plan


def test_no_bloom_filter_under_stock_confs(spark, sf_dir):
    """Stock thresholds (>=10 GiB probe scan) must leave the local plan
    unfiltered — the conf IS the at-scale switch, not a default tax."""
    t = load_tables(spark, sf_dir, names=("orders", "lineitem"))
    sel = (
        t["orders"]
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
    )
    j = t["lineitem"].join(sel, F.col("l_orderkey") == F.col("o_orderkey"))
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "might_contain" not in plan


def test_pruning_changes_no_answer(spark, sf_dir):
    """Bit-identical results with and without the runtime filter."""
    pruned = sorted(
        map(tuple, rel.bloom_runtime_filter_join(spark, sf_dir).collect())
    )
    t = load_tables(spark, sf_dir, names=("orders", "lineitem"))
    sel = (
        t["orders"]
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
    )
    from customer_revenue_analysis_sql_tableau_spark.functions.money import cents

    plain = sorted(
        map(
            tuple,
            t["lineitem"]
            .join(sel, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("l_returnflag")
            .agg(
                F.count(F.lit(1)).alias("n_lines"),
                F.sum(cents(F.col("l_quantity"))).alias("qty_c"),
            )
            .collect(),
        )
    )
    assert pruned == plain and len(pruned) > 0


def test_confs_restored_after_entry(spark, sf_dir):
    before = {
        k: spark.conf.get(k, None) for k in rel.BLOOM_FILTER_CONFS
    }
    rel.bloom_runtime_filter_join(spark, sf_dir).collect()
    after = {k: spark.conf.get(k, None) for k in rel.BLOOM_FILTER_CONFS}
    assert before == after

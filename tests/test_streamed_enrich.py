"""Stream-static broadcast enrichment (r11): in-plan join shape,
multi-batch drain parity, exactly-once sink."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from customer_revenue_analysis_sql_tableau_spark.catalog import load_tables
from customer_revenue_analysis_sql_tableau_spark.functions.money import money
from customer_revenue_analysis_sql_tableau_spark.streaming.drains import (
    stream_static_enrich_drain,
)
from customer_revenue_analysis_sql_tableau_spark.session import read_file_stream
from customer_revenue_analysis_sql_tableau_spark.streaming.windows import (
    run_static_enrich_stream,
)


def test_streaming_plan_contains_broadcast_join(spark, sf_dir):
    """The dim join must live INSIDE the streaming plan as a broadcast
    hash join (map-side enrich), not in a post-sink batch step."""
    t = load_tables(
        spark, sf_dir, names=("events", "customer"), register=False
    )
    dim = t["customer"].select("c_custkey", "c_mktsegment")
    with tempfile.TemporaryDirectory() as tmp:
        t["events"].limit(10).coalesce(1).write.parquet(f"{tmp}/src")
        src = read_file_stream(spark, f"{tmp}/src")
        enriched = src.join(
            F.broadcast(dim), src["user_id"] == dim["c_custkey"], "left"
        )
        # a streaming frame cannot be planned through the batch
        # QueryExecution; run one availableNow drain and read the
        # executed micro-batch plan off the query itself
        q = (
            enriched.writeStream.format("noop")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        plan = q._jsq.explainInternal(True)
        assert "BroadcastHashJoin" in plan
        assert "StreamingRelation" in plan or "FileScan" in plan


def test_drain_equals_batch_join(spark, sf_dir):
    """Multi-batch streamed enrich + sink aggregate == plain batch
    join aggregate, bit for bit."""
    drained = sorted(
        map(tuple, stream_static_enrich_drain(spark, sf_dir).collect())
    )
    t = load_tables(
        spark, sf_dir, names=("events", "customer"), register=False
    )
    dim = t["customer"].select("c_custkey", "c_mktsegment")
    batch = sorted(
        map(
            tuple,
            t["events"]
            .join(
                F.broadcast(dim),
                F.col("user_id") == F.col("c_custkey"),
                "left",
            )
            .groupBy("c_mktsegment", "event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum(money("value")), 2)
                .cast("double")
                .alias("total_value"),
            )
            .collect(),
        )
    )
    assert drained == batch and len(drained) > 0


def test_sink_is_exactly_once_across_redrain(spark, sf_dir):
    """Re-running the stream over the same source + checkpoint must
    not duplicate sink rows (committed offsets + sink manifest)."""
    t = load_tables(
        spark, sf_dir, names=("events", "customer"), register=False
    )
    dim = t["customer"].select("c_custkey", "c_mktsegment")
    with tempfile.TemporaryDirectory() as tmp:
        t["events"].limit(100).coalesce(1).write.parquet(f"{tmp}/src")
        first = run_static_enrich_stream(
            spark, f"{tmp}/src", f"{tmp}/ckpt", f"{tmp}/sink", dim
        ).count()
        again = run_static_enrich_stream(
            spark, f"{tmp}/src", f"{tmp}/ckpt", f"{tmp}/sink", dim
        ).count()
        assert first == again == 100

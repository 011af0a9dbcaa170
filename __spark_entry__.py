"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query at sf0.001; ``queries()`` /
``oracle_sql()`` register every implemented operator (SURVEY.md §2) with
its DuckDB oracle twin. Registries live next to the operator code in
``customer_revenue_analysis_sql_tableau_spark.operators.*`` and are merged here.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from customer_revenue_analysis_sql_tableau_spark.operators import analytics as _analytics
from customer_revenue_analysis_sql_tableau_spark.operators import corpus as _corpus
from customer_revenue_analysis_sql_tableau_spark.operators import queries as _queries
from customer_revenue_analysis_sql_tableau_spark.operators import procedures as _procedures
from customer_revenue_analysis_sql_tableau_spark.operators import relational as _relational
from customer_revenue_analysis_sql_tableau_spark.operators import rollups as _rollups
from customer_revenue_analysis_sql_tableau_spark.operators import decontamination as _decontamination
from customer_revenue_analysis_sql_tableau_spark.operators import dedup as _dedup
from customer_revenue_analysis_sql_tableau_spark.operators import embeddings as _embeddings
from customer_revenue_analysis_sql_tableau_spark.operators import features as _features
from customer_revenue_analysis_sql_tableau_spark.operators import graph as _graph
from customer_revenue_analysis_sql_tableau_spark.operators import incremental as _incremental
from customer_revenue_analysis_sql_tableau_spark.operators import multimodal as _multimodal
from customer_revenue_analysis_sql_tableau_spark.operators import pipeline as _pipeline
from customer_revenue_analysis_sql_tableau_spark.operators import quality as _quality
from customer_revenue_analysis_sql_tableau_spark.operators import segment_store as _segment_store
from customer_revenue_analysis_sql_tableau_spark.operators import similarity as _similarity
from customer_revenue_analysis_sql_tableau_spark.operators import sketch_checks as _sketch_checks
from customer_revenue_analysis_sql_tableau_spark.operators import splits as _splits
from customer_revenue_analysis_sql_tableau_spark.operators import temporal as _temporal
from customer_revenue_analysis_sql_tableau_spark.operators import tpch_complete as _tpch_complete
from customer_revenue_analysis_sql_tableau_spark.operators import tpch_extended as _tpch_extended
from customer_revenue_analysis_sql_tableau_spark.operators import text as _text
from customer_revenue_analysis_sql_tableau_spark import app_layer as _app_layer
from customer_revenue_analysis_sql_tableau_spark import streaming as _streaming
from customer_revenue_analysis_sql_tableau_spark.functions import gallery as _gallery
from customer_revenue_analysis_sql_tableau_spark.sources import compaction as _compaction
from customer_revenue_analysis_sql_tableau_spark.sources import manifest_stream_source as _manifest_stream_source
from customer_revenue_analysis_sql_tableau_spark.sources import manifest_table as _manifest_table
from customer_revenue_analysis_sql_tableau_spark.sources import roundtrips as _roundtrips
from customer_revenue_analysis_sql_tableau_spark.sources import table_api as _table_api
from customer_revenue_analysis_sql_tableau_spark.sources import table_sql as _table_sql
from customer_revenue_analysis_sql_tableau_spark.sources import multi_writer as _multi_writer

_REGISTRY_MODULES = [
    _pipeline,
    _corpus,
    _quality,
    _gallery,
    _decontamination,
    _embeddings,
    _incremental,
    _rollups,
    _segment_store,
    _similarity,
    _sketch_checks,
    _app_layer,
    _multimodal,
    _procedures,
    _splits,
    _streaming,
    _dedup,
    _features,
    _graph,
    _temporal,
    _tpch_complete,
    _text,
    _queries,
    _analytics,
    _relational,
    _tpch_extended,
    _roundtrips,
    _compaction,
    _manifest_table,
    _manifest_stream_source,
    _table_api,
    _table_sql,
    _multi_writer,
]

# The external correctness run is budgeted (~50 entries per run) and
# walks the merged dict in insertion order, so the registry is ordered
# at ENTRY level: entries a previous budget spilled come first, then
# new entries and entries whose code paths changed, then the cohort
# whose last external proof is oldest. Everything not listed follows in
# module order. Guarded against rot by
# tests/test_registry_hygiene.py::test_priority_names_exist.
_PRIORITY = [
    # -- spilled by the previous budget: sweep first --
    "temporal_scd2_user_state",
    "view_customer_value_summary_bucketed",
    "vocab_topk_containment_check",
    # -- new entries, first external proof --
    "manifest_sql_merge_upsert",  # MERGE INTO statement, identical oracle
    "manifest_sql_lifecycle_history",  # 5-verb lifecycle via SQL strings
    "manifest_sql_time_travel",  # mid-chain VERSION AS OF read
    "manifest_sql_update_where",  # UPDATE SET ... WHERE statement
    "manifest_sql_insert_into",  # INSERT INTO with nested time travel
    "manifest_sql_table_changes",  # Delta-style CDF TVF on the SQL surface
    "manifest_sql_check_constraint",  # CHECK constraints enforced on writes
    "manifest_sql_ctas",  # CREATE TABLE AS SELECT + OR REPLACE swap
    "stream_manifest_two_writers",  # concurrent writers + abort/rebase
    "multimodal_decode_jpeg_420",  # chroma-subsampled decode
    # -- changed code paths, re-proven --
    "parquet_manifest_history",  # delete_where/commit_transaction changed
    "parquet_manifest_conflict_detect",  # commit_transaction metadata carry
    "parquet_manifest_stats_pruned_read",  # empty-eligible short-circuit
    "stream_manifest_source_drain",  # append-only contract enforced
    "stream_manifest_cdf_drain",  # overlap-component partitioning
    # -- the distributed components path, proven externally --
    "dedup_components_distributed",
    # -- the oldest-proof cohort (registry floor sweep) --
    "analytics_funnel_stage_counts",
    "analytics_retention_day_cohorts",
    "corpus_stats_report",
    "dedup_components",
    "dedup_edit_distance",
    "dedup_embedding_cosine",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_minhash_lsh_grouped",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "dq_column_profile",
    "events_variant_extract",
    "multimodal_frame_sample",
    "multimodal_resize",
    "parts_never_ordered_anti",
    "proc_customer_balance",
    "rollup_minute",
    "sim_delete_brute_topk",
    "sim_delete_recall_check",
    "split_pack_concat",
    "stream_cdc_latest_drain",
    "stream_interval_full_join_drain",
    "stream_interval_join_drain",
    "stream_interval_join_multibatch_drain",
    "stream_interval_left_join_drain",
    "stream_interval_semi_join_drain",
    "stream_minute_rollup_drain",
    "stream_session_window_drain",
    "stream_sliding_window_drain",
    "stream_tumbling_window_drain",
    "stream_user_upsert_drain",
    "tableau_g5_spend_by_type_year",
    "top_nations_customers_semi",
    "tpch_q10_returned_items",
    "tpch_q13_order_count_distribution",
    "tpch_q14_promo_revenue",
    "tpch_q15_top_supplier",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q6_forecast_revenue",
    "tpch_q7_volume_shipping",
    "tpch_q8_market_share",
]


def _prioritized(merged: dict) -> dict:
    out = {k: merged[k] for k in _PRIORITY if k in merged}
    out.update((k, v) for k, v in merged.items() if k not in out)
    return out


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return _queries.flagship_revenue_by_region(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for mod in _REGISTRY_MODULES:
        out.update(mod.QUERIES)
    return _prioritized(out)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI-SQL twin for each (SQL-expressible) query."""
    out: dict[str, str] = {}
    for mod in _REGISTRY_MODULES:
        out.update(mod.ORACLES)
    return _prioritized(out)

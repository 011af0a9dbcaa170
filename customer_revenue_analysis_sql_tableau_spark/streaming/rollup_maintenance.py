"""Streaming maintenance of the minute rollup tier.

The rollup pyramid (``operators/rollups.py``) is the batch form of a
continuous aggregate; at ingest the finest tier is MAINTAINED, not
rebuilt: each arriving event micro-batch folds its per-(minute,
event_type) mergeable state (count / cent-exact sum / max) into the
persistent tier, and coarser tiers keep merging from it exactly as in
batch. Same versioned exactly-once discipline as the view maintenance
(``view_maintenance._view_state_batch``): version ``v_<batch_id>``
built from its predecessor, retry rebuilds the identical version.

pytest proves streamed-maintained minute tier ≡ batch
``minute_rollup`` after a 3-batch delivery, arrival-order independent
(the measures are commutative-mergeable longs and max).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.rollups import _finalize
from ..session import drain, read_file_stream
from .statefs import delete_dir
from .windows import _latest_state_version, _state_versions


def _minute_partial(batch: DataFrame) -> DataFrame:
    """Mergeable per-(minute, event_type) state for one event batch —
    identical algebra to ``rollups.minute_rollup``'s aggregate."""
    return (
        batch.select(
            F.date_trunc("minute", "ts").alias("bucket"),
            "event_type",
            F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
            "value",
        )
        .groupBy("bucket", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").alias("value_cents"),
            F.max("value").alias("max_value"),
        )
    )


def _rollup_state_batch(
    spark: SparkSession, state_dir: str, partial: DataFrame, batch_id: int
) -> None:
    """One idempotent merge step into the versioned minute-tier state."""
    versions = _state_versions(spark, state_dir)
    prev = max((v for v in versions if v < batch_id), default=None)
    if prev is not None:
        # declared schema (guide §6.2): the state dir is written by
        # this function — no per-batch footer inference
        merged = (
            spark.read.schema(partial.schema)
            .parquet(f"{state_dir}/v_{prev}")
            .unionByName(partial)
            .groupBy("bucket", "event_type")
            .agg(
                F.sum("n_events").alias("n_events"),
                F.sum("value_cents").alias("value_cents"),
                F.max("max_value").alias("max_value"),
            )
        )
    else:
        merged = partial
    merged.write.mode("overwrite").parquet(f"{state_dir}/v_{batch_id}")
    for v in versions:
        if prev is not None and v < prev:
            delete_dir(spark, f"{state_dir}/v_{v}")


def run_streaming_minute_rollup(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    state_dir: str,
) -> DataFrame:
    """Drain an events file stream through incremental minute-tier
    maintenance; return the finalized tier (bucket, event_type,
    n_events, value_cents, total_value, max_value) over the latest
    state version."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        _rollup_state_batch(
            spark, state_dir, _minute_partial(batch_df).localCheckpoint(), batch_id
        )

    raw = read_file_stream(spark, source_dir, max_files_per_trigger=1)
    drain((raw.writeStream.foreachBatch(process), checkpoint_dir))
    latest = _latest_state_version(spark, state_dir)
    if latest is None:
        return spark.createDataFrame(
            [],
            "bucket timestamp, event_type string, n_events bigint,"
            " value_cents bigint, total_value double, max_value double",
        )
    return _finalize(spark.read.parquet(f"{state_dir}/v_{latest}"))


def stream_minute_rollup_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-contained, driver-checkable form of the streaming rollup:
    split the events table into 3 delivery files in a temp directory,
    drain them through :func:`run_streaming_minute_rollup` (a REAL
    readStream, availableNow), and return the maintained tier. The
    oracle is the tier computed straight from raw events — a value-hash
    row proving the streamed maintenance end-to-end, not just in
    pytest. The result is localCheckpointed so the temp state can be
    deleted before returning."""
    from ..catalog import load_tables
    from .drains import _drain, _stage_thirds

    events = load_tables(spark, sf_dir, names=("events",), register=False)[
        "events"
    ]

    def build(tmp: str) -> DataFrame:
        src = _stage_thirds(events, F.col("event_id"), f"{tmp}/src")
        return run_streaming_minute_rollup(
            spark, src, f"{tmp}/ckpt", f"{tmp}/state"
        )

    return _drain(spark, build)


QUERIES = {
    "stream_minute_rollup_drain": stream_minute_rollup_drain,
}


def _drain_oracle() -> str:
    from ..operators.rollups import _direct_sql

    return _direct_sql("minute")


ORACLES = {
    "stream_minute_rollup_drain": _drain_oracle(),
}

"""Self-contained, driver-hash-checked streaming drains.

Streaming operators normally prove themselves in pytest (stream ≡
batch); these entries make the proof a VALUE-HASH row in the oracle
harness too: each splits a testdata table into delivery files in a
temp directory, drains them through the real ``readStream`` pipeline
(availableNow, foreachBatch state folds), localCheckpoints the result
so the temp state can be deleted, and returns a frame whose oracle is
computed straight from the raw table. The recipe started with
``rollup_maintenance.stream_minute_rollup_drain``; this module adds
the upsert serving table and the ingest quality/decontamination
gates.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_tables
from ..operators.decontamination import DECON_K, DECON_T, EVAL_MOD, _kgrams_sql
from ..operators.pipeline import QUALITY_T
from ..operators.text import QUALITY_SQL
from ..session import scoped_conf, stage_deliveries
from .dedup_ingest import run_streaming_ingest_pipeline, seed_eval_grams
from .windows import (
    ORACLES as _WINDOW_ORACLES,
    run_crossbatch_dedup_stream,
    run_foreach_batch_upsert_stream,
    run_interval_join_stream,
    run_interval_join_multibatch_stream,
    run_interval_full_join_stream,
    run_interval_left_join_stream,
    run_interval_right_join_stream,
    run_interval_semi_join_stream,
    run_late_data_stream,
    run_late_session_stream,
    run_late_sliding_stream,
    run_latest_state_stream,
    run_stateful_timeout_sessions,
    run_static_enrich_stream,
    run_resumable_stream,
    run_session_stream,
    run_sliding_stream,
    run_tumbling_stream,
)


def _drain(spark: SparkSession, build) -> DataFrame:
    """Run ``build(tmp)`` against a fresh temp dir, localCheckpoint the
    result, delete the temp state, return the materialized frame."""
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="stream_drain_")
    try:
        return build(tmp).localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


#: Delivery split for the late-data drain: three event_id-keyed thirds,
#: each spanning the whole event-time range (ids are time-ordered, so a
#: modulus split leaves every delivery with old AND new rows).
LATE_SPLIT_MOD = 3


def _stage_thirds(df: DataFrame, key: Column, src: str) -> str:
    """Stage the ``key % 3`` thirds of ``df`` as three ordered one-file
    deliveries (delivery k is micro-batch k)."""
    return stage_deliveries(
        (df.filter(key % LATE_SPLIT_MOD == k) for k in range(LATE_SPLIT_MOD)), src
    )


def stream_user_upsert_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain a 3-file events delivery through the foreachBatch MERGE
    serving table (versioned exactly-once state); the result must
    hash-match the plain per-user batch aggregate."""
    events = load_tables(spark, sf_dir, names=("events",), register=False)[
        "events"
    ]

    def build(tmp: str) -> DataFrame:
        src = _stage_thirds(events, F.col("event_id"), f"{tmp}/src")
        return run_foreach_batch_upsert_stream(
            spark, src, f"{tmp}/ckpt", f"{tmp}/state"
        )

    return _drain(spark, build)


def stream_ingest_verdicts_drain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Drain a 3-file documents delivery (train docs; the eval subset
    seeds the static benchmark gram set) through the streamed
    quality + decontamination gates; the per-doc verdicts must
    hash-match the batch gate expressions computed straight from the
    documents table."""
    docs = load_tables(spark, sf_dir, names=("documents",), register=False)[
        "documents"
    ]
    eval_docs = docs.filter(F.col("doc_id") % EVAL_MOD == 0)
    train = docs.filter(F.col("doc_id") % EVAL_MOD != 0)

    def build(tmp: str) -> DataFrame:
        seed_eval_grams(eval_docs, f"{tmp}/work")
        src = _stage_thirds(train, F.col("doc_id"), f"{tmp}/src")
        verdicts, _pairs = run_streaming_ingest_pipeline(
            spark, src, f"{tmp}/ckpt", f"{tmp}/work"
        )
        return verdicts

    return _drain(spark, build)


def stream_resumable_restart_drain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exactly-once RECOVERY under the driver hash, not just steady
    state: drain half the events delivery into the exactly-once parquet
    file sink, STOP the query, inject an orphaned poison file into the
    sink directory (what a batch killed mid-write leaves behind — data
    files present, no ``_spark_metadata`` commit), append the remaining
    source files, and restart from the same checkpoint. The final sink
    must hash-match the plain batch enrichment of the whole table —
    which simultaneously proves the restart skipped the already-
    committed files (no double rows), picked up every new file (no
    loss), and that the sink's transactional manifest hides the
    orphan (its ``double_value = -1`` rows would poison the hash)."""
    events = load_tables(spark, sf_dir, names=("events",), register=False)[
        "events"
    ]

    def build(tmp: str) -> DataFrame:
        src, ckpt, sink = f"{tmp}/src", f"{tmp}/ckpt", f"{tmp}/sink"
        quarter = F.col("event_id") % 4
        stage_deliveries((events.filter(quarter == k) for k in (0, 1)), src)
        run_resumable_stream(spark, src, ckpt, sink)  # partial delivery
        # crashed-batch leftovers: schema-compatible rows the manifest
        # never committed, with values no committed row can take
        events.limit(7).select(
            "event_id",
            "user_id",
            "event_type",
            F.col("ts").cast("timestamp").alias("ts"),
            F.lit(-1.0).alias("double_value"),
        ).coalesce(1).write.mode("append").parquet(sink)
        stage_deliveries((events.filter(quarter == k) for k in (2, 3)), src)
        return run_resumable_stream(spark, src, ckpt, sink)

    return _drain(spark, build)


def stream_cdc_latest_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain a 3-file events delivery through the
    ``applyInPandasWithState`` CDC compaction (latest event per user in
    explicit GroupState); the result must hash-match the batch
    latest-per-key oracle — a CUSTOM STATEFUL operator under value-hash
    check, not just the built-in windows."""
    events = load_tables(spark, sf_dir, names=("events",), register=False)[
        "events"
    ]

    def build(tmp: str) -> DataFrame:
        src = _stage_thirds(events, F.col("event_id"), f"{tmp}/src")
        return run_latest_state_stream(spark, src, f"{tmp}/ckpt")

    return _drain(spark, build)

def _stage_events(spark: SparkSession, sf_dir: str, tmp: str) -> None:
    """Stage the events table as ONE delivery (whole dir, single
    availableNow batch) — the windowed/joined streams' watermark would
    legitimately drop late rows across multiple batches, so equality
    with the batch twin holds for the single-drain form
    (``stream_late_data_drain`` puts the multi-batch late-drop policy
    itself under the hash)."""
    load_tables(spark, sf_dir, names=("events",), register=False)[
        "events"
    ].write.parquet(f"{tmp}/src")


def stream_late_data_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real watermark LATE-DROP policy under the driver hash, not just
    steady-state equality: three staged deliveries run as three ordered
    micro-batches (one file each). By the third batch the watermark —
    max event time of delivery 1 minus the 30-minute delay — has
    finalized every older window (append mode emits + evicts them), so
    delivery 3's rows for those windows are DROPPED by the engine while
    its fresh rows land in never-emitted state. The final sink is
    therefore deterministically computable from the raw table: windows
    with end <= the delivery-1 watermark, aggregated over deliveries
    1-2 only — and the entry hash-fails if Spark ever admits the stale
    delivery-3 rows (they would inflate exactly those finalized
    windows, the behavior the two-batch staging exhibits). See
    ``run_late_data_stream`` for the measured watermark-lag semantics
    this staging pins down."""
    events = load_tables(spark, sf_dir, names=("events",), register=False)[
        "events"
    ]

    def build(tmp: str) -> DataFrame:
        src = _stage_thirds(events, F.col("event_id"), f"{tmp}/src")
        return run_late_data_stream(spark, src, f"{tmp}/ckpt")

    return _drain(spark, build)


def stream_crossbatch_dedup_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dropDuplicatesWithinWatermark`` CROSS-BATCH state rules under
    the driver hash. Deliveries are the event_id % 3 thirds, each
    PRE-COLLAPSED to one deterministic row per (user_id, event_type)
    (the min (ts, event_id) row) — within-batch arrival order among
    same-key rows is the operator's one genuine nondeterminism, so the
    staging removes it and what remains is pure engine policy, probed
    and pinned in :func:`run_crossbatch_dedup_stream`:

    - batches 1-2 run at watermark 0 (the measured two-batch lag), so
      delivery 1 emits every key and delivery 2 exactly its new keys;
    - batch 3 runs at wm = max_ts(delivery 1) − 30 min: its rows with
      ts <= wm are LATE-DROPPED even for never-seen keys, while keys
      whose FIRST-seen ts + 30 min <= wm have EXPIRED state — their
      fresh rows are RE-ADMITTED, so the correct sink genuinely
      carries those keys twice (suppressed delivery-2 duplicates do
      NOT extend expiry — probed).

    The oracle reconstructs that admitted set relationally; thousands
    of delivery-3 rows land on each side of the late/expiry boundaries
    at sf0.01+, so any drift in the engine rules hash-fails."""
    events = load_tables(spark, sf_dir, names=("events",), register=False)[
        "events"
    ]

    def collapsed(k: int) -> DataFrame:
        return (
            events.filter(F.col("event_id") % LATE_SPLIT_MOD == k)
            .groupBy("user_id", "event_type")
            .agg(F.min(F.struct("ts", "event_id", "value")).alias("s"))
            .select(
                F.col("s.event_id").alias("event_id"),
                F.col("s.ts").alias("ts"),
                "user_id",
                "event_type",
                F.col("s.value").alias("value"),
            )
        )

    def build(tmp: str) -> DataFrame:
        src = stage_deliveries(map(collapsed, range(LATE_SPLIT_MOD)), f"{tmp}/src")
        return run_crossbatch_dedup_stream(spark, src, f"{tmp}/ckpt")

    return _drain(spark, build)


#: The at-scale state-store posture: RocksDB provider + changelog
#: checkpointing — per-partition state spills to local disk instead of
#: the executor heap, and commits ship changelogs instead of full
#: snapshots.
_ROCKSDB_CONFS = {
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    ),
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
}


def stream_crossbatch_dedup_rocksdb_drain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """:func:`stream_crossbatch_dedup_drain` — the biggest-state drain
    (every (user_id, event_type) key holds cross-batch dedup state) —
    run under the ROCKSDB state-store provider with CHANGELOG
    CHECKPOINTING, the at-scale deployment configuration, under the
    SAME oracle as the default-provider twin. pytest
    (tests/test_rocksdb_state.py) proves provider parity for three
    state shapes; this entry makes the posture driver-visible: the
    driver hash now certifies that the probed watermark/expiry/
    re-admission rules hold under the provider a 1000-executor cluster
    would actually run (the provider changes state CAPACITY, never
    answers). The confs hold only for the drain (``scoped_conf``), so
    the entry is self-contained in the shared driver session."""
    with scoped_conf(spark, _ROCKSDB_CONFS):
        return stream_crossbatch_dedup_drain(spark, sf_dir)


def stream_late_session_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-window late-data policy under the hash — the stateful
    MERGING variant of :func:`stream_late_data_drain`. Measured rule
    (it DIFFERS from the tumbling operator's): session-window input is
    dropped on the row's EVENT TIME <= watermark, not on a provisional
    window end — a stale row near an open session is discarded even
    though a tumbling aggregation would still have admitted it. The
    admitted remainder (ts > wm) provably cannot touch any emitted
    session: a session it merges into ends past the watermark, and a
    session ending at-or-before the watermark cannot reach it (end <=
    wm < ts). The sink therefore equals gaps-and-islands sessions over
    deliveries 1-2 alone, filtered to end <= the delivery-1 watermark
    — which is exactly what the oracle computes, and what delivery 3's
    thousands of dropped rows would corrupt if the engine admitted
    them (see ``run_late_session_stream``)."""
    events = load_tables(spark, sf_dir, names=("events",), register=False)[
        "events"
    ]

    def build(tmp: str) -> DataFrame:
        src = _stage_thirds(events, F.col("event_id"), f"{tmp}/src")
        return run_late_session_stream(spark, src, f"{tmp}/ckpt")

    return _drain(spark, build)


def stream_static_enrich_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain a 3-file events delivery through the IN-PLAN stream-static
    broadcast join against the customer dimension (the remaining join
    shape next to the stream-stream matrix), then aggregate the
    exactly-once parquet sink per (segment, event_type); the result
    must hash-match the plain batch join computed straight from the
    raw tables."""
    from ..functions.money import money

    t = load_tables(
        spark, sf_dir, names=("events", "customer"), register=False
    )
    dim = t["customer"].select("c_custkey", "c_mktsegment")

    def build(tmp: str) -> DataFrame:
        src = _stage_thirds(t["events"], F.col("event_id"), f"{tmp}/src")
        sink = run_static_enrich_stream(
            spark, src, f"{tmp}/ckpt", f"{tmp}/sink", dim
        )
        return (
            sink.groupBy("c_mktsegment", "event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum(money("value")), 2)
                .cast("double")
                .alias("total_value"),
            )
            .orderBy("c_mktsegment", "event_type")
        )

    return _drain(spark, build)


def stream_interval_join_multibatch_drain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-stream JOIN state retention across micro-batches, under
    the hash. Without ``maxFilesPerTrigger`` the file source drains
    every staged file in ONE availableNow batch (probed), so the
    staging is adversarial and the batches are real: delivery 1
    carries every NON-error event
    (clicks included), delivery 2 carries every error, and the join
    runs one file per micro-batch — so EVERY emitted pair requires a
    click held in join state across the batch boundary. The watermark
    provably drops nothing: the errors-side tracker sees no data in
    batch 1, the global watermark is the MIN across sides (probed,
    see ``run_interval_left_join_stream``), so admission runs at
    watermark 0 for both batches and the sink must equal the COMPLETE
    batch join — which is exactly what the oracle computes."""
    events = load_tables(spark, sf_dir, names=("events",), register=False)[
        "events"
    ]

    def build(tmp: str) -> DataFrame:
        is_error = F.col("event_type") == "error"
        src = stage_deliveries(
            (events.filter(~is_error), events.filter(is_error)), f"{tmp}/src"
        )
        return run_interval_join_multibatch_stream(spark, src, f"{tmp}/ckpt")

    return _drain(spark, build)


def stream_interval_left_join_drain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Left-outer stream-stream join NULL-EMISSION semantics under the
    driver hash — the outer twin of
    :func:`stream_interval_join_multibatch_drain`. Three ordered
    deliveries (event_id % 3 thirds) drain through the watermarked
    error⟕click interval join; because real event data spans far more
    than the 30-min delay, the engine schedules a trailing no-data
    cleanup batch whose eviction pass emits the outer nulls. The sink
    is a pure function of the deliveries (rules probed and pinned in
    :func:`run_interval_left_join_stream`):

    - MATCHED pairs: both rows admitted at their arrival batch —
      deliveries 1-2 run at late-watermark 0 (two-batch lag); delivery
      3 admits only rows with ``ts > lw3`` where ``lw3`` = min over
      the two sides of delivery 1's max event time, minus 30 min
      (boundary: ts == lw3 is dropped);
    - NULL rows: admitted errors with no admitted matching click and
      ``error_ts < final_wm`` (strict), where ``final_wm`` = min over
      the two sides of the max event time across ALL deliveries,
      minus 30 min — errors at/above it stay silently in state.

    Thousands of fixture rows land on each side of both boundaries at
    sf0.01+, so any drift in either lag, the min-of-sides rule, or the
    strictness hash-fails."""
    events = load_tables(spark, sf_dir, names=("events",), register=False)[
        "events"
    ]

    def build(tmp: str) -> DataFrame:
        src = _stage_thirds(events, F.col("event_id"), f"{tmp}/src")
        return run_interval_left_join_stream(spark, src, f"{tmp}/ckpt")

    return _drain(spark, build)


def stream_interval_full_join_drain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Full-outer stream-stream join under the driver hash — completes
    the outer-join matrix (inner: multibatch drain; left:
    :func:`stream_interval_left_join_drain`). Same 3-delivery staging;
    the sink adds CLICK-side null rows for admitted clicks that never
    matched and whose last possible matching error time has passed:
    ``click_ts + 10min < final_wm`` (strict — probed; a click exactly
    at the boundary stays silently in state). Error-side nulls and the
    matched set follow the left drain's probed rules."""
    events = load_tables(spark, sf_dir, names=("events",), register=False)[
        "events"
    ]

    def build(tmp: str) -> DataFrame:
        src = _stage_thirds(events, F.col("event_id"), f"{tmp}/src")
        return run_interval_full_join_stream(spark, src, f"{tmp}/ckpt")

    return _drain(spark, build)


def stream_interval_right_join_drain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Right-outer stream-stream join under the driver hash — the
    mirror of :func:`stream_interval_left_join_drain`, completing the
    join-type matrix symmetrically. Same 3-delivery staging and probed
    admission rules; the null-gated side flips to the CLICKS: the sink
    is the matched pair set plus
    null-error rows for admitted clicks with no admitted matching
    error and ``click_ts + 10min < final_wm`` (strict — the same
    interval-derived eviction bound the full join's click branch
    obeys; a click exactly at the boundary stays silently in state)."""
    events = load_tables(spark, sf_dir, names=("events",), register=False)[
        "events"
    ]

    def build(tmp: str) -> DataFrame:
        src = _stage_thirds(events, F.col("event_id"), f"{tmp}/src")
        return run_interval_right_join_stream(spark, src, f"{tmp}/ckpt")

    return _drain(spark, build)


def stream_timeout_sessions_drain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``applyInPandasWithState`` EVENT-TIME TIMEOUT semantics under
    the driver hash: three TIME-ORDERED tercile deliveries — the
    watermark must strictly ADVANCE between batches, or the probed
    watermark+1ms timer clamp suppresses every firing: with the
    id-mod staging the global max lands in an early delivery,
    w2 == w3, and both engines correctly emit NOTHING (measured) —
    drain through the inactivity-timeout sessionizer. The terciles
    are VALUE splits at two exact ts order statistics (ranks
    ceil(n/3) and ceil(2n/3), each a bounded TakeOrdered + max — no
    unpartitioned global window such as an eager ntile over the full
    table);
    the oracle recomputes the identical cut points relationally. The
    sink must equal the relational replay of the probed rules (see
    :func:`run_stateful_timeout_sessions`): per user, per batch,
    admitted-row aggregates fold into one running session whose
    summary emits exactly when a batch finds the user dataless with
    its clamped timer strictly below that batch's one-lag eviction
    watermark — up to two sessions per user across the drain, and
    state whose timer the final watermark never passes stays silently
    live. The oracle unrolls the three firing checks (batch 1, batch
    2, trailing cleanup) as CASE logic over a per-user batch pivot."""
    events = load_tables(spark, sf_dir, names=("events",), register=False)[
        "events"
    ]

    def build(tmp: str) -> DataFrame:
        n = events.count()
        k1 = (n + 2) // 3  # rank ceil(n/3)
        k2 = (2 * n + 2) // 3  # rank ceil(2n/3)
        cut1, cut2 = (
            events.select("ts").orderBy("ts").limit(k1).agg(F.max("ts")).collect()[0][0],
            events.select("ts").orderBy("ts").limit(k2).agg(F.max("ts")).collect()[0][0],
        )
        terciled = events.withColumn(
            "b",
            F.when(F.col("ts") <= F.lit(cut1), 0)
            .when(F.col("ts") <= F.lit(cut2), 1)
            .otherwise(2),
        )
        src = stage_deliveries(
            (
                terciled.filter(F.col("b") == k).drop("b")
                for k in range(LATE_SPLIT_MOD)
            ),
            f"{tmp}/src",
        )
        return run_stateful_timeout_sessions(spark, src, f"{tmp}/ckpt")

    return _drain(spark, build)


def stream_interval_semi_join_drain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Left-semi stream-stream join under the driver hash: the emitted
    set must be exactly the DISTINCT admitted errors with at least one
    admitted matching click — which simultaneously proves the engine's
    matched-flag state suppresses re-emission (errors matching clicks
    in several deliveries would otherwise appear once per match) and
    that the admission rules equal the left-outer drain's."""
    events = load_tables(spark, sf_dir, names=("events",), register=False)[
        "events"
    ]

    def build(tmp: str) -> DataFrame:
        src = _stage_thirds(events, F.col("event_id"), f"{tmp}/src")
        return run_interval_semi_join_stream(spark, src, f"{tmp}/ckpt")

    return _drain(spark, build)


def stream_late_sliding_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window late-data policy under the hash — completes the
    late-drop matrix (tumbling: window-end rule; session: event-time
    rule; sliding: window-end rule applied PER OVERLAPPING WINDOW
    COPY). A stale delivery-3 row can lose its older window but keep a
    newer one in state; neither affects the sink — the emitted set is
    every sliding window with end <= the delivery-1 watermark,
    aggregated over deliveries 1-2 (the oracle explodes each admitted
    row into its two 5-minute-aligned windows and applies the same
    end-<=-watermark gate). See :func:`run_late_sliding_stream`."""
    events = load_tables(spark, sf_dir, names=("events",), register=False)[
        "events"
    ]

    def build(tmp: str) -> DataFrame:
        src = _stage_thirds(events, F.col("event_id"), f"{tmp}/src")
        return run_late_sliding_stream(spark, src, f"{tmp}/ckpt")

    return _drain(spark, build)


def stream_tumbling_window_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the events table through the REAL watermarked tumbling-
    window stream (complete mode); must hash-match the batch twin's
    oracle."""
    def build(tmp: str) -> DataFrame:
        _stage_events(spark, sf_dir, tmp)
        return run_tumbling_stream(spark, f"{tmp}/src", f"{tmp}/ckpt")

    return _drain(spark, build)


def stream_interval_join_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the events table through the watermarked stream-stream
    interval join (errors x same-user clicks in the preceding 10 min,
    append mode); must hash-match the plain inequality join."""
    def build(tmp: str) -> DataFrame:
        _stage_events(spark, sf_dir, tmp)
        return run_interval_join_stream(spark, f"{tmp}/src", f"{tmp}/ckpt")

    return _drain(spark, build)

def stream_sliding_window_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the events table through the sliding-window stream
    (10 min / 5 min step, complete mode); hash-matches the batch twin."""
    def build(tmp: str) -> DataFrame:
        _stage_events(spark, sf_dir, tmp)
        return run_sliding_stream(spark, f"{tmp}/src", f"{tmp}/ckpt")

    return _drain(spark, build)


def stream_session_window_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the events table through the ``session_window`` stream
    (gap-merged per-user sessions, complete mode); hash-matches the
    batch gaps-and-islands twin."""
    def build(tmp: str) -> DataFrame:
        _stage_events(spark, sf_dir, tmp)
        return run_session_stream(spark, f"{tmp}/src", f"{tmp}/ckpt")

    return _drain(spark, build)

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "stream_user_upsert_drain": stream_user_upsert_drain,
    "stream_ingest_verdicts_drain": stream_ingest_verdicts_drain,
    "stream_resumable_restart_drain": stream_resumable_restart_drain,
    "stream_cdc_latest_drain": stream_cdc_latest_drain,
    "stream_tumbling_window_drain": stream_tumbling_window_drain,
    "stream_interval_join_drain": stream_interval_join_drain,
    "stream_sliding_window_drain": stream_sliding_window_drain,
    "stream_session_window_drain": stream_session_window_drain,
    "stream_late_data_drain": stream_late_data_drain,
    "stream_crossbatch_dedup_drain": stream_crossbatch_dedup_drain,
    "stream_crossbatch_dedup_rocksdb_drain": stream_crossbatch_dedup_rocksdb_drain,
    "stream_late_session_drain": stream_late_session_drain,
    "stream_late_sliding_drain": stream_late_sliding_drain,
    "stream_interval_join_multibatch_drain": stream_interval_join_multibatch_drain,
    "stream_interval_left_join_drain": stream_interval_left_join_drain,
    "stream_interval_full_join_drain": stream_interval_full_join_drain,
    "stream_interval_right_join_drain": stream_interval_right_join_drain,
    "stream_interval_semi_join_drain": stream_interval_semi_join_drain,
    "stream_timeout_sessions_drain": stream_timeout_sessions_drain,
    "stream_static_enrich_drain": stream_static_enrich_drain,
}

#: Exact money-sum text shared with the batch-twin oracles.
_VAL_SUM = "CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE)"

ORACLES: dict[str, str] = {
    # the stream-static enrich is stateless: the drained sink must
    # aggregate exactly like the plain batch join over the raw tables
    "stream_static_enrich_drain": f"""
        SELECT c.c_mktsegment, e.event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               {_VAL_SUM.replace('value', 'e.value')} AS total_value
        FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY c.c_mktsegment, e.event_type
        ORDER BY c_mktsegment, event_type""",
    # same aggregate as the batch twin entry — reuse its oracle text
    "stream_tumbling_window_drain": _WINDOW_ORACLES["stream_tumbling_counts"],
    "stream_sliding_window_drain": _WINDOW_ORACLES["stream_sliding_counts"],
    "stream_session_window_drain": _WINDOW_ORACLES["stream_session_windows"],
    # the admitted set is a pure function of the deliveries: watermark
    # = max event time of delivery 1 (event_id % 3 = 0) minus 30 min;
    # emitted windows end <= watermark, aggregated over deliveries 1-2
    # (delivery 3's stale rows are dropped by the engine; its fresh
    # rows are newer than every emitted window). Spark's window end is
    # epoch-aligned bucket start + 10 min = DuckDB time_bucket + 10 min.
    # the probed cross-batch dedup rules, reconstructed relationally:
    # per-delivery winners, delivery-1 all emitted, delivery-2 new keys
    # (wm still 0 — two-batch lag), delivery-3 gated on ts > wm3 and on
    # first-seen-expiry (first_seen + 30min <= wm3 → state gone →
    # re-admit; dup arrivals never extend expiry)
    "stream_crossbatch_dedup_drain": f"""
        WITH ranked AS (
            SELECT event_id % {LATE_SPLIT_MOD} AS b, user_id, event_type,
                   ts, event_id, value,
                   row_number() OVER (
                       PARTITION BY event_id % {LATE_SPLIT_MOD},
                                    user_id, event_type
                       ORDER BY ts, event_id) AS rn
            FROM events),
        w AS (SELECT b, user_id, event_type, ts, event_id, value
              FROM ranked WHERE rn = 1),
        wm AS (
            -- the stream reads the PRE-COLLAPSED delivery, so its
            -- watermark derives from the per-key winner times, not
            -- the raw third's max ts
            SELECT max(ts) - INTERVAL 30 MINUTE AS wm3
            FROM w WHERE b = 0),
        fs AS (
            SELECT user_id, event_type, ts FROM (
                SELECT user_id, event_type, ts,
                       row_number() OVER (
                           PARTITION BY user_id, event_type
                           ORDER BY b) AS r
                FROM w WHERE b <= 1) WHERE r = 1)
        SELECT event_id, ts, user_id, event_type, value
        FROM w WHERE b = 0
        UNION ALL
        SELECT w1.event_id, w1.ts, w1.user_id, w1.event_type, w1.value
        FROM w w1
        WHERE w1.b = 1 AND NOT EXISTS (
            SELECT 1 FROM w w0
            WHERE w0.b = 0 AND w0.user_id = w1.user_id
              AND w0.event_type = w1.event_type)
        UNION ALL
        SELECT w2.event_id, w2.ts, w2.user_id, w2.event_type, w2.value
        FROM w w2
        CROSS JOIN wm
        LEFT JOIN fs ON fs.user_id = w2.user_id
                    AND fs.event_type = w2.event_type
        WHERE w2.b = {LATE_SPLIT_MOD - 1} AND w2.ts > wm.wm3
          AND (fs.ts IS NULL OR fs.ts + INTERVAL 30 MINUTE <= wm.wm3)""",
    "stream_late_data_drain": f"""
        WITH wm AS (
            SELECT max(ts) - INTERVAL 30 MINUTE AS w
            FROM events WHERE event_id % {LATE_SPLIT_MOD} = 0),
        admitted AS (
            SELECT * FROM events
            WHERE event_id % {LATE_SPLIT_MOD} != {LATE_SPLIT_MOD - 1})
        SELECT time_bucket(INTERVAL '10 minutes', ts) AS window_start,
               time_bucket(INTERVAL '10 minutes', ts) + INTERVAL '10 minutes'
                   AS window_end,
               event_type, count(*) AS n_events, {_VAL_SUM} AS total_value
        FROM admitted, wm
        WHERE time_bucket(INTERVAL '10 minutes', ts) + INTERVAL '10 minutes'
              <= wm.w
        GROUP BY 1, 2, 3""",
    # sliding-window variant: each admitted row explodes into its two
    # 5-minute-aligned 10-minute windows; the emitted set is windows
    # with end <= the delivery-1 watermark over deliveries 1-2 (a
    # delivery-3 row's surviving newer-window copy stays in state,
    # never emitted).
    "stream_late_sliding_drain": f"""
        WITH wm AS (
            SELECT max(ts) - INTERVAL 30 MINUTE AS w
            FROM events WHERE event_id % {LATE_SPLIT_MOD} = 0),
        admitted AS (
            SELECT * FROM events
            WHERE event_id % {LATE_SPLIT_MOD} != {LATE_SPLIT_MOD - 1}),
        exploded AS (
            SELECT unnest([
                       time_bucket(INTERVAL '5 minutes', ts),
                       time_bucket(INTERVAL '5 minutes', ts)
                           - INTERVAL '5 minutes'
                   ]) AS window_start,
                   event_type, value
            FROM admitted)
        SELECT window_start,
               window_start + INTERVAL '10 minutes' AS window_end,
               event_type, count(*) AS n_events, {_VAL_SUM} AS total_value
        FROM exploded, wm
        WHERE window_start + INTERVAL '10 minutes' <= wm.w
        GROUP BY 1, 2, 3""",
    # session-window variant: the engine drops delivery-3 rows on
    # EVENT TIME <= watermark (measured — not the tumbling window-end
    # rule), and admitted ts > wm rows can never reach a session that
    # ends at-or-before the watermark, so the emitted set is sessions
    # over deliveries 1-2 alone with end <= the watermark.
    "stream_late_session_drain": f"""
        WITH wm AS (
            SELECT max(ts) - INTERVAL 30 MINUTE AS w
            FROM events WHERE event_id % {LATE_SPLIT_MOD} = 0),
        admitted AS (
            SELECT e.* FROM events e
            WHERE event_id % {LATE_SPLIT_MOD} != {LATE_SPLIT_MOD - 1}),
        marked AS (
            SELECT user_id, ts, value, event_id,
                CASE WHEN ts - lag(ts) OVER (
                         PARTITION BY user_id ORDER BY ts, event_id)
                         > INTERVAL '4 hours'
                     OR lag(ts) OVER (
                         PARTITION BY user_id ORDER BY ts, event_id)
                         IS NULL
                     THEN 1 ELSE 0 END AS new_session
            FROM admitted),
        numbered AS (
            SELECT *, sum(new_session) OVER (
                PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS session_id
            FROM marked),
        sess AS (
            SELECT user_id, min(ts) AS session_start,
                   max(ts) + INTERVAL '4 hours' AS session_end,
                   count(*) AS n_events, {_VAL_SUM} AS total_value
            FROM numbered GROUP BY user_id, session_id)
        SELECT user_id, session_start, session_end, n_events, total_value
        FROM sess, wm WHERE session_end <= wm.w""",
    # multi-batch variant proves cross-delivery state retention; the
    # admitted set is the COMPLETE pair set (measured: no input drops
    # within a 3-batch drain), so the oracle is the same batch join
    "stream_interval_join_multibatch_drain": """
        SELECT e.event_id AS error_id, e.user_id AS e_user_id,
               e.ts AS error_ts, c.event_id AS click_id, c.ts AS click_ts
        FROM events e JOIN events c
          ON e.user_id = c.user_id
         AND c.ts <= e.ts AND c.ts >= e.ts - INTERVAL 10 MINUTE
        WHERE e.event_type = 'error' AND c.event_type = 'click'""",
    "stream_interval_join_drain": """
        SELECT e.event_id AS error_id, e.user_id AS e_user_id,
               e.ts AS error_ts, c.event_id AS click_id, c.ts AS click_ts
        FROM events e JOIN events c
          ON e.user_id = c.user_id
         AND c.ts <= e.ts AND c.ts >= e.ts - INTERVAL 10 MINUTE
        WHERE e.event_type = 'error' AND c.event_type = 'click'""",
    # the probed EventTimeTimeout rules replayed relationally: per-user
    # per-batch admitted aggregates, three firing checks (batch 1,
    # batch 2, trailing cleanup batch) at the one-lag eviction
    # watermarks with a STRICT boundary; data in the checking batch
    # re-arms the timer (no fire); fired state resets
    # the probed EventTimeTimeout rules replayed relationally: per-user
    # per-batch admitted aggregates; the timer set in batch b is
    # max(last_event + gap, evict_wm(b) + 1ms) (the engine rejects
    # past timers, so the runner clamps); it fires at the first later
    # batch k where the group has no data and timer < evict_wm(k)
    # (strict); the trailing cleanup batch is the last check; data in
    # the checking batch re-arms; fired state resets
    "stream_timeout_sessions_drain": f"""
        WITH cuts AS (
            -- the staging's exact ts order statistics: ranks
            -- ceil(n/3) and ceil(2n/3) (duplicate-safe: the k-th
            -- smallest VALUE is well-defined whatever the tie order)
            SELECT max(CASE WHEN r <= CAST(floor((n + 2) / 3.0) AS BIGINT)
                            THEN ts END) AS cut1,
                   max(CASE WHEN r <= CAST(floor((2 * n + 2) / 3.0) AS BIGINT)
                            THEN ts END) AS cut2
            FROM (SELECT ts, row_number() OVER (ORDER BY ts) AS r,
                         count(*) OVER () AS n
                  FROM events)),
        ev AS (
            -- tms: the engine's event-time stats truncate to
            -- MILLISECONDS (probed via the driver hash), so trackers
            -- and per-user last timestamps work at ms precision while
            -- the late filter compares the raw microsecond ts
            SELECT CASE WHEN ts <= cuts.cut1 THEN 0
                        WHEN ts <= cuts.cut2 THEN 1
                        ELSE 2 END AS b,
                   user_id, ts,
                   make_timestamp(epoch_ms(ts) * 1000) AS tms,
                   CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                       AS cents
            FROM events, cuts),
        tr AS (
            SELECT (SELECT max(tms) FROM ev WHERE b = 0)
                       - INTERVAL 30 MINUTE AS w1,
                   (SELECT max(tms) FROM ev WHERE b <= 1)
                       - INTERVAL 30 MINUTE AS w2,
                   (SELECT max(tms) FROM ev)
                       - INTERVAL 30 MINUTE AS w3),
        adm AS (
            SELECT ev.* FROM ev, tr
            WHERE b < {LATE_SPLIT_MOD - 1} OR ts > tr.w1),
        agg AS (
            SELECT user_id,
                   sum(CASE WHEN b = 0 THEN 1 ELSE 0 END) AS n0,
                   sum(CASE WHEN b = 1 THEN 1 ELSE 0 END) AS n1,
                   sum(CASE WHEN b = 2 THEN 1 ELSE 0 END) AS n2,
                   CAST(coalesce(sum(CASE WHEN b = 0 THEN cents END), 0) AS BIGINT) AS c0,
                   CAST(coalesce(sum(CASE WHEN b = 1 THEN cents END), 0) AS BIGINT) AS c1,
                   CAST(coalesce(sum(CASE WHEN b = 2 THEN cents END), 0) AS BIGINT) AS c2,
                   max(CASE WHEN b = 0 THEN tms END) AS l0,
                   max(CASE WHEN b = 1 THEN tms END) AS l1,
                   max(CASE WHEN b = 2 THEN tms END) AS l2
            FROM adm GROUP BY user_id),
        -- timer set at batch 0 runs at watermark 0: no clamp. Timers
        -- set at batches 1/2 clamp to w1/w2 + 1ms respectively.
        flags AS (
            SELECT agg.*, tr.w1 AS w1, tr.w2 AS w2, tr.w3 AS w3,
                   (n0 > 0 AND n1 = 0
                    AND l0 + INTERVAL 10 MINUTE < tr.w1) AS f1
            FROM agg, tr),
        flags2 AS (
            SELECT *,
                   (NOT f1 AND n2 = 0 AND (n0 > 0 OR n1 > 0)
                    AND CASE WHEN n1 > 0 THEN
                            greatest(coalesce(l0, TIMESTAMP '1970-01-01'),
                                     l1) + INTERVAL 10 MINUTE < w2
                            AND w1 + INTERVAL 1 MILLISECOND < w2
                        ELSE l0 + INTERVAL 10 MINUTE < w2 END) AS f2
            FROM flags)
        SELECT user_id, CAST(n0 AS BIGINT) AS n_events,
               c0 AS total_cents, l0 AS last_ts
        FROM flags2 WHERE f1
        UNION ALL
        SELECT user_id, CAST(n0 + n1 AS BIGINT), CAST(c0 + c1 AS BIGINT),
               greatest(coalesce(l0, TIMESTAMP '1970-01-01'),
                        coalesce(l1, TIMESTAMP '1970-01-01'))
        FROM flags2 WHERE f2
        UNION ALL
        -- cleanup check, fired-at-b1 branch: only batch-2 data
        -- remains; its timer was set at batch 2 (clamped to w2 + 1ms)
        SELECT user_id, CAST(n2 AS BIGINT), c2, l2
        FROM flags2
        WHERE f1 AND n2 > 0 AND l2 + INTERVAL 10 MINUTE < w3
          AND w2 + INTERVAL 1 MILLISECOND < w3
        UNION ALL
        -- cleanup check, never-fired branch: the whole history; the
        -- timer's setting batch is the user's LAST data batch
        SELECT user_id, CAST(n0 + n1 + n2 AS BIGINT), CAST(c0 + c1 + c2 AS BIGINT),
               greatest(coalesce(l0, TIMESTAMP '1970-01-01'),
                        coalesce(l1, TIMESTAMP '1970-01-01'),
                        coalesce(l2, TIMESTAMP '1970-01-01'))
        FROM flags2
        WHERE NOT f1 AND NOT f2 AND (n0 > 0 OR n1 > 0 OR n2 > 0)
          AND greatest(coalesce(l0, TIMESTAMP '1970-01-01'),
                       coalesce(l1, TIMESTAMP '1970-01-01'),
                       coalesce(l2, TIMESTAMP '1970-01-01'))
              + INTERVAL 10 MINUTE < w3
          AND CASE WHEN n2 > 0 THEN w2 + INTERVAL 1 MILLISECOND < w3
                   WHEN n1 > 0 THEN w1 + INTERVAL 1 MILLISECOND < w3
                   ELSE TRUE END""",
    # the semi twin: distinct admitted errors with >= 1 admitted match
    "stream_interval_semi_join_drain": f"""
        WITH e AS (
            SELECT event_id % {LATE_SPLIT_MOD} AS b, event_id, user_id, ts
            FROM events WHERE event_type = 'error'),
        c AS (
            SELECT event_id % {LATE_SPLIT_MOD} AS b, event_id, user_id, ts
            FROM events WHERE event_type = 'click'),
        tr AS (
            SELECT least((SELECT max(ts) FROM e WHERE b = 0),
                         (SELECT max(ts) FROM c WHERE b = 0))
                       - INTERVAL 30 MINUTE AS lw3),
        ae AS (SELECT e.* FROM e, tr
               WHERE b < {LATE_SPLIT_MOD - 1} OR ts > tr.lw3),
        ac AS (SELECT c.* FROM c, tr
               WHERE b < {LATE_SPLIT_MOD - 1} OR ts > tr.lw3)
        SELECT ae.event_id AS error_id, ae.user_id AS e_user_id,
               ae.ts AS error_ts
        FROM ae WHERE EXISTS (
            SELECT 1 FROM ac
            WHERE ac.user_id = ae.user_id
              AND ac.ts <= ae.ts
              AND ac.ts >= ae.ts - INTERVAL 10 MINUTE)""",
    # the full-outer twin adds click-side nulls: unmatched admitted
    # clicks whose last matching error time passed the final watermark
    # (click_ts + 10min < final_wm, strict — probed)
    "stream_interval_full_join_drain": f"""
        WITH e AS (
            SELECT event_id % {LATE_SPLIT_MOD} AS b, event_id, user_id, ts
            FROM events WHERE event_type = 'error'),
        c AS (
            SELECT event_id % {LATE_SPLIT_MOD} AS b, event_id, user_id, ts
            FROM events WHERE event_type = 'click'),
        tr AS (
            SELECT least((SELECT max(ts) FROM e WHERE b = 0),
                         (SELECT max(ts) FROM c WHERE b = 0))
                       - INTERVAL 30 MINUTE AS lw3,
                   least((SELECT max(ts) FROM e),
                         (SELECT max(ts) FROM c))
                       - INTERVAL 30 MINUTE AS final_wm),
        ae AS (SELECT e.* FROM e, tr
               WHERE b < {LATE_SPLIT_MOD - 1} OR ts > tr.lw3),
        ac AS (SELECT c.* FROM c, tr
               WHERE b < {LATE_SPLIT_MOD - 1} OR ts > tr.lw3),
        matched AS (
            SELECT ae.event_id AS error_id, ae.ts AS error_ts,
                   ac.event_id AS click_id, ac.ts AS click_ts
            FROM ae JOIN ac ON ae.user_id = ac.user_id
             AND ac.ts <= ae.ts AND ac.ts >= ae.ts - INTERVAL 10 MINUTE)
        SELECT error_id, error_ts, click_id, click_ts FROM matched
        UNION ALL
        SELECT ae.event_id, ae.ts,
               CAST(NULL AS BIGINT), CAST(NULL AS TIMESTAMP)
        FROM ae, tr
        WHERE ae.ts < tr.final_wm AND NOT EXISTS (
            SELECT 1 FROM matched m WHERE m.error_id = ae.event_id)
        UNION ALL
        SELECT CAST(NULL AS BIGINT), CAST(NULL AS TIMESTAMP),
               ac.event_id, ac.ts
        FROM ac, tr
        WHERE ac.ts + INTERVAL 10 MINUTE < tr.final_wm AND NOT EXISTS (
            SELECT 1 FROM matched m WHERE m.click_id = ac.event_id)""",
    # the right-outer mirror: matched pairs under the same admission
    # rules; null-ERROR rows for admitted clicks that never matched,
    # gated on the interval-derived click bound (strict — probed via
    # the full join's click branch)
    "stream_interval_right_join_drain": f"""
        WITH e AS (
            SELECT event_id % {LATE_SPLIT_MOD} AS b, event_id, user_id, ts
            FROM events WHERE event_type = 'error'),
        c AS (
            SELECT event_id % {LATE_SPLIT_MOD} AS b, event_id, user_id, ts
            FROM events WHERE event_type = 'click'),
        tr AS (
            SELECT least((SELECT max(ts) FROM e WHERE b = 0),
                         (SELECT max(ts) FROM c WHERE b = 0))
                       - INTERVAL 30 MINUTE AS lw3,
                   least((SELECT max(ts) FROM e),
                         (SELECT max(ts) FROM c))
                       - INTERVAL 30 MINUTE AS final_wm),
        ae AS (SELECT e.* FROM e, tr
               WHERE b < {LATE_SPLIT_MOD - 1} OR ts > tr.lw3),
        ac AS (SELECT c.* FROM c, tr
               WHERE b < {LATE_SPLIT_MOD - 1} OR ts > tr.lw3),
        matched AS (
            SELECT ae.event_id AS error_id, ae.ts AS error_ts,
                   ac.event_id AS click_id, ac.user_id AS c_user_id,
                   ac.ts AS click_ts
            FROM ae JOIN ac ON ae.user_id = ac.user_id
             AND ac.ts <= ae.ts AND ac.ts >= ae.ts - INTERVAL 10 MINUTE)
        SELECT error_id, error_ts, click_id, c_user_id, click_ts
        FROM matched
        UNION ALL
        SELECT CAST(NULL AS BIGINT), CAST(NULL AS TIMESTAMP),
               ac.event_id, ac.user_id, ac.ts
        FROM ac, tr
        WHERE ac.ts + INTERVAL 10 MINUTE < tr.final_wm AND NOT EXISTS (
            SELECT 1 FROM matched m WHERE m.click_id = ac.event_id)""",
    # the probed outer-join rules, reconstructed relationally: two
    # differently-lagged watermarks (admission = two-batch lag over
    # delivery 1; eviction/null emission = the final min-of-sides
    # watermark over all deliveries), strict boundaries on both
    "stream_interval_left_join_drain": f"""
        WITH e AS (
            SELECT event_id % {LATE_SPLIT_MOD} AS b, event_id, user_id, ts
            FROM events WHERE event_type = 'error'),
        c AS (
            SELECT event_id % {LATE_SPLIT_MOD} AS b, event_id, user_id, ts
            FROM events WHERE event_type = 'click'),
        tr AS (
            SELECT least((SELECT max(ts) FROM e WHERE b = 0),
                         (SELECT max(ts) FROM c WHERE b = 0))
                       - INTERVAL 30 MINUTE AS lw3,
                   least((SELECT max(ts) FROM e),
                         (SELECT max(ts) FROM c))
                       - INTERVAL 30 MINUTE AS final_wm),
        ae AS (SELECT e.* FROM e, tr
               WHERE b < {LATE_SPLIT_MOD - 1} OR ts > tr.lw3),
        ac AS (SELECT c.* FROM c, tr
               WHERE b < {LATE_SPLIT_MOD - 1} OR ts > tr.lw3),
        matched AS (
            SELECT ae.event_id AS error_id, ae.user_id AS e_user_id,
                   ae.ts AS error_ts, ac.event_id AS click_id,
                   ac.ts AS click_ts
            FROM ae JOIN ac ON ae.user_id = ac.user_id
             AND ac.ts <= ae.ts AND ac.ts >= ae.ts - INTERVAL 10 MINUTE)
        SELECT error_id, e_user_id, error_ts, click_id, click_ts
        FROM matched
        UNION ALL
        SELECT ae.event_id, ae.user_id, ae.ts,
               CAST(NULL AS BIGINT), CAST(NULL AS TIMESTAMP)
        FROM ae, tr
        WHERE ae.ts < tr.final_wm AND NOT EXISTS (
            SELECT 1 FROM matched m WHERE m.error_id = ae.event_id)""",
    "stream_cdc_latest_drain": """
        WITH ranked AS (
            SELECT user_id, ts, event_id, event_type, value,
                   row_number() OVER (
                       PARTITION BY user_id
                       ORDER BY ts DESC, event_id DESC) AS rn
            FROM events)
        SELECT user_id, ts, event_id, event_type, value
        FROM ranked WHERE rn = 1""",
    "stream_resumable_restart_drain": """
        SELECT event_id, user_id, event_type, ts,
               CAST(round(CAST(value AS DECIMAL(18,2)) * 2, 2) AS DOUBLE)
                   AS double_value
        FROM events""",
    "stream_user_upsert_drain": """
        SELECT user_id, count(*) AS n_events,
               CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE)
                   AS total_value,
               max(ts) AS last_ts
        FROM events GROUP BY 1""",
    "stream_ingest_verdicts_drain": f"""
        WITH grams AS (
            SELECT doc_id, unnest({_kgrams_sql(DECON_K)}) AS gram
            FROM documents),
        eval_grams AS (
            SELECT DISTINCT gram FROM grams WHERE doc_id % {EVAL_MOD} = 0),
        cont AS (
            SELECT t.doc_id,
                   sum(CASE WHEN e.gram IS NULL THEN 0 ELSE 1 END)
                       / CAST(count(*) AS DOUBLE) AS containment,
                   sum(CASE WHEN e.gram IS NULL THEN 0 ELSE 1 END)
                       > CAST({DECON_T} AS DOUBLE) * CAST(count(*) AS DOUBLE)
                       AS flagged
            FROM (SELECT * FROM grams WHERE doc_id % {EVAL_MOD} != 0) t
            LEFT JOIN eval_grams e ON t.gram = e.gram
            GROUP BY t.doc_id),
        scored AS (
            SELECT doc_id, {QUALITY_SQL} AS quality_score
            FROM documents WHERE doc_id % {EVAL_MOD} != 0)
        SELECT s.doc_id, s.quality_score, c.containment,
               (s.quality_score >= CAST({QUALITY_T} AS DOUBLE)
                AND NOT c.flagged) AS kept,
               CASE WHEN s.quality_score < CAST({QUALITY_T} AS DOUBLE)
                    THEN 'low_quality'
                    WHEN c.flagged THEN 'contaminated' END AS reason
        FROM scored s JOIN cont c USING (doc_id)""",
}

# the RocksDB-provider twin must produce the identical admitted set —
# the provider changes state capacity, never answers
ORACLES["stream_crossbatch_dedup_rocksdb_drain"] = ORACLES[
    "stream_crossbatch_dedup_drain"
]

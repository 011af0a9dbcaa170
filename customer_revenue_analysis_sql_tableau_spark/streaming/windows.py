"""Windowed event-stream operators: tumbling, sliding, session windows,
watermarked dedup — each with a batch twin the DuckDB oracle checks.

Semantics notes (the hazards that decide oracle parity):
- Spark ``F.window`` aligns tumbling/sliding windows to the epoch; the
  DuckDB twin uses ``time_bucket`` (same alignment).
- ``session_window`` ends at last_event + gap; the SQL twin is the
  classic gaps-and-islands rewrite (lag + cumulative session counter).
- Streaming dedup keeps the *first* event per key; the deterministic
  batch twin is row_number over (ts, event_id).
- ``value`` sums go through DECIMAL (exact, order-independent).

Scale posture: watermarks bound state (``withWatermark`` before any
stateful op); windows partition by (window, key) so state is sharded;
the batch twins shuffle once on the same keys.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_tables
from ..functions.money import money
from ..session import drain, drain_to_frame, read_file_stream, scoped_conf

#: Window geometry (pinned for the registered queries).
TUMBLE = "10 minutes"
SLIDE_DURATION = "10 minutes"
SLIDE_STEP = "5 minutes"
SESSION_GAP = "4 hours"
WATERMARK = "30 minutes"


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_tables(spark, sf_dir, names=("events",))["events"]


def events_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 10-minute windows per event_type: count + exact sum."""
    e = _events(spark, sf_dir)
    return (
        e.groupBy(F.window("ts", TUMBLE).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(money("value")), 2).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def events_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (10 min length, 5 min step): each event lands in
    exactly duration/step = 2 windows."""
    e = _events(spark, sf_dir)
    return (
        e.groupBy(F.window("ts", SLIDE_DURATION, SLIDE_STEP).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(money("value")), 2).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
            "total_value",
        )
    )


def events_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows per user (4h inactivity gap).

    Batch twin of ``F.session_window``: Spark's session ends at
    last_event + gap, which the gaps-and-islands oracle reproduces.
    """
    e = _events(spark, sf_dir)
    return (
        e.groupBy(F.session_window("ts", SESSION_GAP).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(money("value")), 2).cast("double").alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def events_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked-dedup batch twin: first event per (user_id,
    event_type), deterministic tiebreak (ts, event_id) — the batch
    semantics of ``dropDuplicatesWithinWatermark``."""
    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_id", "ts", "user_id", "event_type", "value")
    )


def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-string column extraction (the ``props`` column): per-key agg.

    The reference has no JSON surface; the driver testdata adds it —
    ``get_json_object`` stays JVM-side.
    """
    e = _events(spark, sf_dir)
    return (
        e.select(
            "event_type",
            F.get_json_object("props", "$.k").cast("long").alias("k"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
        )
    )


def events_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured VARIANT surface (Spark 4): a nested JSON document
    is built per event from the typed columns plus the raw ``props``
    payload, ingested with ``parse_json`` into a VARIANT, navigated
    with ``try_variant_get`` (object paths, array indexing, a typed
    leaf inside the embedded raw JSON), and re-aggregated. This is the
    open-schema ingest path a training-data pipeline uses for
    heterogeneous event payloads — VARIANT keeps the document binary
    and shredded JVM-side, where ``get_json_object`` re-parses the
    string per access.

    The oracle recomputes the same facts straight from the typed
    columns (`json_extract` only for the embedded k) — hash-matching
    proves the variant round-trip (build → parse → navigate → cast)
    is lossless for strings, longs, doubles, and array elements."""
    e = _events(spark, sf_dir)
    doc = F.to_json(
        F.struct(
            F.struct(
                F.col("event_type").alias("type"),
                F.col("value").alias("value"),
            ).alias("event"),
            F.struct(F.col("user_id").alias("id")).alias("user"),
            F.array(F.lit("evt"), F.col("event_type")).alias("tags"),
            F.col("props").alias("props_raw"),
        )
    )
    v = F.parse_json(doc)
    picked = e.select(
        F.try_variant_get(v, "$.event.type", "string").alias("etype"),
        F.try_variant_get(v, "$.event.value", "double").alias("val"),
        F.try_variant_get(v, "$.user.id", "long").alias("uid"),
        F.try_variant_get(v, "$.tags[1]", "string").alias("tag1"),
        F.try_variant_get(
            F.parse_json(F.try_variant_get(v, "$.props_raw", "string")),
            "$.k",
            "long",
        ).alias("k"),
    )
    return picked.groupBy(F.col("etype").alias("event_type")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("uid").alias("n_users"),
        F.sum(F.col("val").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_value"),
        F.sum("k").alias("sum_k"),
        # null-safe: to_json drops a NULL event_type, so tag1 comes back
        # NULL and `tag1 == etype` is NULL — count it as 0, not NULL, so
        # the oracle's count(event_type) mirrors it exactly
        F.sum(
            F.when(F.col("tag1") == F.col("etype"), F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
        ).alias("n_tag_match"),
    )


# --------------------------------------------------------------------------
# The real streaming pipeline (tested in pytest against the batch twin)
# --------------------------------------------------------------------------


def run_tumbling_stream(
    spark: SparkSession, source_dir: str, checkpoint_dir: str
) -> DataFrame:
    """Execute the tumbling-window aggregation as a true Structured
    Streaming job: parquet file-source *directory* → watermark →
    windowed agg → memory sink, availableNow trigger (drains the
    source then stops).

    Returns the sink contents; must equal ``events_tumbling_counts``
    on the same events (pytest asserts this) — except events older
    than the watermark horizon would be dropped in a live multi-batch
    run; with a single availableNow batch nothing is late.
    """
    stream = (
        read_file_stream(spark, source_dir)
        .withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", TUMBLE).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(money("value")), 2).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    return drain_to_frame(stream, checkpoint_dir, "complete")


#: No-data micro-batches pinned OFF for the late-data drains: a trailing
#: empty batch would advance the watermark past delivery 1's bound and
#: emit extra windows, making the sink depend on a version/timing-
#: sensitive scheduler choice instead of the data batches the oracles
#: model.
_NO_EMPTY_BATCHES = {"spark.sql.streaming.noDataMicroBatches.enabled": "false"}


def _drain_late_windows(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    window: Column,
    key: str,
    lead: list | None = None,
) -> DataFrame:
    """Count + exact value sum per (``window``, ``key``) in APPEND mode,
    one micro-batch per source file, drained into a memory sink. The
    output leads with ``lead`` (default: ``window_start, window_end,
    key``). Returns the sink."""
    if lead is None:
        lead = [
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            key,
        ]
    with scoped_conf(spark, _NO_EMPTY_BATCHES):
        stream = (
            read_file_stream(spark, source_dir, max_files_per_trigger=1)
            .withWatermark("ts", WATERMARK)
            .groupBy(window.alias("w"), key)
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum(money("value")), 2).cast("double").alias("total_value"),
            )
            .select(*lead, "n_events", "total_value")
        )
        return drain_to_frame(stream, checkpoint_dir, "append")


def run_late_data_stream(
    spark: SparkSession, source_dir: str, checkpoint_dir: str
) -> DataFrame:
    """Tumbling-window aggregation in APPEND mode with one micro-batch
    per source file (``maxFilesPerTrigger=1``) — the run shape that puts
    Spark's real late-data policy on observable display:

    - the watermark in effect while batch N processes derives from the
      event times of batches ≤ N-2 (measured on this Spark build: the
      tracker value is computed at a batch's end from the PREVIOUS
      batch's stats, so it lags deliveries by two);
    - input rows whose window end <= that watermark are dropped
      (``numRowsDroppedByWatermark``) because their window was already
      finalized — append mode emitted and evicted it;
    - at each batch's end, windows with end <= the effective watermark
      are emitted exactly once; younger windows stay in state and are
      NOT emitted when the availableNow drain stops.

    With three staged deliveries this makes the final sink a pure
    function of the deliveries: every window old enough to be finalized
    by the third batch, aggregated over deliveries 1-2 only — delivery
    3's stale rows are provably DROPPED (were they admitted, they would
    inflate the emitted counts — the two-batch probe shows exactly
    that), and its fresh rows sit in never-emitted state. The DuckDB
    oracle computes the same set from the raw table and the watermark
    arithmetic.

    No-data micro-batches are off for the run (:data:`_NO_EMPTY_BATCHES`).
    Returns the append sink contents."""
    return _drain_late_windows(
        spark, source_dir, checkpoint_dir,
        F.window("ts", TUMBLE), "event_type",
    )


def run_late_session_stream(
    spark: SparkSession, source_dir: str, checkpoint_dir: str
) -> DataFrame:
    """Session-window twin of :func:`run_late_data_stream` — the
    stateful-MERGING variant of the late-data policy. Measured on this
    build (three one-file batches, no-data batches pinned off):

    - session-window input is dropped on the row's EVENT TIME <= the
      effective watermark — a STRICTER rule than the tumbling
      operator's window-end predicate (rows a tumbling aggregation
      would still admit are discarded here);
    - admitted late rows (ts > wm) merge into state before emission,
      but can only extend sessions that already end past the
      watermark — never one in the emitted set;
    - at each batch end, merged sessions with end <= the watermark are
      emitted exactly once.

    The deterministic model the oracle computes: sessionize deliveries
    1-2 and keep sessions whose end <= wm, where wm =
    max(delivery-1 ts) - delay."""
    return _drain_late_windows(
        spark, source_dir, checkpoint_dir,
        F.session_window("ts", SESSION_GAP), "user_id",
        [
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
        ],
    )


def run_late_sliding_stream(
    spark: SparkSession, source_dir: str, checkpoint_dir: str
) -> DataFrame:
    """Sliding-window twin of :func:`run_late_data_stream` — the
    OVERLAPPING-window variant of the late-data policy. Each event
    belongs to two 10-minute windows (5-minute step); the drop rule is
    per exploded window copy, same predicate as tumbling (window end <=
    the effective watermark), so a late row can be dropped for its
    older window while its newer window's copy survives in state. The
    emitted set is still a pure function of the deliveries: every
    sliding window with end <= the delivery-1 watermark, aggregated
    over deliveries 1-2 — a surviving newer-window copy (end > wm) is
    never emitted by the availableNow drain, so it cannot reach the
    sink either way. No-data batches pinned off (same reasoning as the
    tumbling drain)."""
    return _drain_late_windows(
        spark, source_dir, checkpoint_dir,
        F.window("ts", SLIDE_DURATION, SLIDE_STEP), "event_type",
    )


def run_dedup_stream(
    spark: SparkSession, source_dir: str, checkpoint_dir: str
) -> DataFrame:
    """Streaming dedup: ``dropDuplicatesWithinWatermark`` on
    (user_id, event_type) — keeps the first ARRIVAL per key, with
    watermark-bounded state so old keys age out of memory.

    Arrival order within a micro-batch is not event-time order, so the
    surviving row per key is not deterministic; the pytest contract is
    set-of-keys equality with the batch twin (`events_stream_dedup`),
    which pins the deterministic (ts, event_id)-first variant.
    """
    stream = (
        read_file_stream(spark, source_dir)
        .withWatermark("ts", WATERMARK)
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("event_id", "ts", "user_id", "event_type", "value")
    )
    return drain_to_frame(stream, checkpoint_dir, "append")


def run_crossbatch_dedup_stream(
    spark: SparkSession, source_dir: str, checkpoint_dir: str
) -> DataFrame:
    """``dropDuplicatesWithinWatermark`` with one micro-batch per
    source file — the multi-batch run shape that exposes the
    operator's THREE empirically pinned rules (probed on this Spark
    build; ``stream_crossbatch_dedup_drain`` hashes them):

    - LATE DROP: an incoming row with event time <= the batch's
      watermark is discarded even for a never-seen key (strict >
      admits — ts == wm probed dropped);
    - EXPIRY: a key's state expires when first_seen_ts + delay <= wm
      (boundary probed: equality expires), after which a fresh
      duplicate is RE-ADMITTED — the sink can legitimately carry the
      same key twice;
    - NO EXTENSION: a suppressed duplicate arrival does NOT extend its
      key's expiry; the FIRST-seen event time alone pins it (probed:
      a later in-window dup did not keep the key alive).

    The caller stages deliveries pre-collapsed to one row per key so
    the only nondeterminism Spark has (within-batch arrival order
    among same-key rows) is removed and the cross-batch engine rules
    above are the entire behavior."""
    stream = (
        read_file_stream(spark, source_dir, max_files_per_trigger=1)
        .withWatermark("ts", WATERMARK)
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("event_id", "ts", "user_id", "event_type", "value")
    )
    return drain_to_frame(stream, checkpoint_dir, "append")


def run_sliding_stream(
    spark: SparkSession, source_dir: str, checkpoint_dir: str
) -> DataFrame:
    """Sliding windows (10 min / 5 min step) as a true stream, complete
    mode, availableNow drain; must equal `events_sliding_counts`."""
    stream = (
        read_file_stream(spark, source_dir)
        .withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", SLIDE_DURATION, SLIDE_STEP).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(money("value")), 2).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
            "total_value",
        )
    )
    return drain_to_frame(stream, checkpoint_dir, "complete")


def run_session_stream(
    spark: SparkSession, source_dir: str, checkpoint_dir: str
) -> DataFrame:
    """Session windows as a true stream: watermark + ``session_window``
    grouping, update mode, availableNow drain. Sessions merge as events
    arrive; state per (user, open session) is bounded by the watermark.
    Must equal the batch twin (`events_session_windows`) when the whole
    source drains in one pass — asserted in pytest."""
    stream = (
        read_file_stream(spark, source_dir)
        .withWatermark("ts", WATERMARK)
        .groupBy(F.session_window("ts", SESSION_GAP).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(money("value")), 2).cast("double").alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )
    # session windows reject update mode; append would hold back
    # sessions newer than the watermark
    return drain_to_frame(stream, checkpoint_dir, "complete")


def run_stateful_user_counts(
    spark: SparkSession, source_dir: str, checkpoint_dir: str
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    cumulative event count + exact value total, carried in explicit
    GroupState across micro-batches (the arbitrary-stateful-processing
    surface the built-in windows can't express).

    Emits one row per (user, micro-batch) in update mode; the final
    row per user (max cumulative count) must equal the batch
    ``groupBy(user_id).count()`` — asserted in pytest. State is one
    small tuple per user: memory scales with distinct keys, not events.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        import pandas as pd

        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    stream = (
        read_file_stream(spark, source_dir)
        .select("user_id", "ts", "value")
        .withWatermark("ts", WATERMARK)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            "user_id bigint, n_events bigint, total_value double",
            "n bigint, total double",
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )
    # update-mode memory sink appends one row per (user, batch); the
    # final state per user is the max cumulative count.
    sink = drain_to_frame(stream, checkpoint_dir, "update")
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        sink.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def run_latest_state_stream(
    spark: SparkSession, source_dir: str, checkpoint_dir: str
) -> DataFrame:
    """Streaming CDC compaction: the latest event per user carried as
    explicit GroupState — the stream twin of
    ``temporal.latest_event_per_user``. Each micro-batch compares
    arrivals against the stored (ts, event_id) and keeps the max, so
    the result is arrival-order independent (unlike dropDuplicates,
    which keeps the FIRST arrival); state is one small tuple per key.
    pytest asserts row-for-row equality with the batch operator.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        import pandas as pd

        best = tuple(state.get) if state.exists else None
        for pdf in pdfs:
            for row in pdf.itertuples(index=False):
                cand = (
                    int(row.ts.value // 1000),  # pandas ns → micros
                    int(row.event_id),
                    str(row.event_type),
                    float(row.value),
                )
                if best is None or cand[:2] > best[:2]:
                    best = cand
        state.update(best)
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "ts_us": [best[0]],
                "event_id": [best[1]],
                "event_type": [best[2]],
                "value": [best[3]],
            }
        )

    stream = (
        read_file_stream(spark, source_dir)
        .select("user_id", "ts", "event_id", "event_type", "value")
        .withWatermark("ts", WATERMARK)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            "user_id bigint, ts_us bigint, event_id bigint,"
            " event_type string, value double",
            "ts_us bigint, event_id bigint, event_type string, value double",
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )
    sink = drain_to_frame(stream, checkpoint_dir, "update")
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts_us"), F.desc("event_id")
    )
    return (
        sink.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.timestamp_micros(F.col("ts_us")).alias("ts"),
            "event_id",
            "event_type",
            "value",
        )
    )


def _interval_join(
    spark: SparkSession,
    source_dir: str,
    how: str,
    max_files_per_trigger: int | None,
) -> DataFrame:
    """Watermarked ``how`` join of the stream's error events to the
    same user's clicks from the preceding 10 minutes. Columns: error
    side ``error_id, e_user_id, error_ts``; click side ``click_id,
    c_user_id, click_ts``."""

    def side(event_type: str, user: str) -> DataFrame:
        return (
            read_file_stream(spark, source_dir, max_files_per_trigger)
            .filter(F.col("event_type") == event_type)
            .select(
                F.col("event_id").alias(f"{event_type}_id"),
                F.col("user_id").alias(user),
                F.col("ts").alias(f"{event_type}_ts"),
            )
            .withWatermark(f"{event_type}_ts", WATERMARK)
        )

    return side("error", "e_user_id").join(
        side("click", "c_user_id"),
        F.expr(
            "e_user_id = c_user_id AND click_ts <= error_ts"
            " AND click_ts >= error_ts - INTERVAL 10 MINUTES"
        ),
        how,
    )


def run_interval_join_stream(
    spark: SparkSession, source_dir: str, checkpoint_dir: str
) -> DataFrame:
    """Stream-stream interval join: error events joined to same-user
    clicks from the preceding 10 minutes — the streaming twin of
    ``temporal.range_join_clicks_before_errors``'s pair set. Both sides
    carry watermarks and the join condition time-bounds the click
    against the error, so state for either side is evicted once the
    watermark passes the interval (bounded memory at any stream
    length). Inner join: append mode, exact pair semantics; pytest
    asserts set equality with the batch inequality join.
    """
    joined = _interval_join(spark, source_dir, "inner", None).select(
        "error_id", "e_user_id", "error_ts", "click_id", "click_ts"
    )
    return drain_to_frame(joined, checkpoint_dir, "append")


def run_interval_left_join_stream(
    spark: SparkSession, source_dir: str, checkpoint_dir: str
) -> DataFrame:
    """LEFT-OUTER stream-stream interval join: every error event, with
    its same-user clicks from the preceding 10 minutes when they exist
    and NULL click columns once the watermark proves no match can
    arrive — the semantics production pipelines most often get wrong,
    because null emission is governed by TWO differently-lagged
    watermarks (probed on this engine, availableNow file-source drains,
    ``maxFilesPerTrigger=1``):

    - the global watermark is the MIN across both sides' trackers
      (each side's max observed event time − the 30-min delay; stats
      are collected at the EventTimeWatermark node, so late-dropped
      rows still advance the tracker);
    - batch k admits an input row iff ``ts > late_wm(k)`` where
      ``late_wm(k)`` is the watermark from batch k−2's stats (the
      familiar two-batch lag; boundary probed: ts == wm is DROPPED);
    - state eviction — and with it outer-NULL emission — runs inside
      batch k against ``evict_wm(k)``, the watermark from batch k−1's
      stats (one batch FRESHER than the admission watermark): an
      unmatched error emits its null row iff ``error_ts < evict_wm``
      (strict; boundary probed — ts == wm stays in state), so nulls
      can appear in a DATA batch, not only in the trailing no-data
      cleanup batch the engine schedules when eviction is pending;
    - a pair is emitted iff BOTH sides were admitted at their arrival
      batches: the interval geometry makes counterpart-state eviction
      redundant with admission (a click matching an admitted error
      satisfies ``click_ts + 10min ≥ error_ts > late_wm``, so its
      state provably survived the previous batch's strict-< cleanup —
      and symmetrically for errors), which is what lets the drain's
      oracle reconstruct the sink relationally.

    Inner-join twin: :func:`run_interval_join_stream`."""
    joined = _interval_join(spark, source_dir, "leftOuter", 1).select(
        "error_id", "e_user_id", "error_ts", "click_id", "click_ts"
    )
    return drain_to_frame(joined, checkpoint_dir, "append")


def run_interval_full_join_stream(
    spark: SparkSession, source_dir: str, checkpoint_dir: str
) -> DataFrame:
    """FULL-OUTER stream-stream interval join — both sides emit null
    rows on state expiry. The error side follows
    :func:`run_interval_left_join_stream`'s probed rules; the click
    side's eviction bound derives from the interval condition
    (a click can match errors with ``error_ts ∈ [click_ts,
    click_ts + 10min]``), and probing pinned it STRICT: an unmatched
    click emits its null row iff ``click_ts + 10min < evict_wm``
    (a click at exactly the boundary stays in state). Output keeps the
    id/ts pairs only — either side may be null, never both."""
    joined = _interval_join(spark, source_dir, "fullOuter", 1).select(
        "error_id", "error_ts", "click_id", "click_ts"
    )
    return drain_to_frame(joined, checkpoint_dir, "append")


def run_interval_right_join_stream(
    spark: SparkSession, source_dir: str, checkpoint_dir: str
) -> DataFrame:
    """RIGHT-OUTER stream-stream interval join — the mirror of
    :func:`run_interval_left_join_stream` that completes the join-type
    matrix symmetrically: every click event, with
    its matching errors when they exist and NULL error columns once
    the watermark proves no match can arrive. The state-side roles
    flip: the CLICK side is now the null-gated side, and its eviction
    bound derives from the interval condition exactly as the full
    join's click branch did — an unmatched click emits its null row
    iff ``click_ts + 10min < evict_wm`` (strict; probed on the full
    join, where the click branch obeyed the same rule). Matched-pair
    admission is unchanged: both rows admitted at their arrival
    batches under the two-batch-lagged min-of-sides watermark."""
    joined = _interval_join(spark, source_dir, "rightOuter", 1).select(
        "error_id", "error_ts", "click_id", "c_user_id", "click_ts"
    )
    return drain_to_frame(joined, checkpoint_dir, "append")


#: Inactivity gap for the timeout-sessionization operator (well under
#: the 30-min watermark delay so sessions actually close in-drain).
TIMEOUT_GAP_MS = 10 * 60 * 1000


def run_stateful_timeout_sessions(
    spark: SparkSession, source_dir: str, checkpoint_dir: str
) -> DataFrame:
    """Inactivity-timeout sessionization via ``applyInPandasWithState``
    + ``EventTimeTimeout`` — the arbitrary-stateful TIMEOUT surface
    (session_window can't emit custom per-session state; this can).
    Each user's events accumulate in GroupState (count + exact cents +
    last event ms); the timeout timestamp re-arms to last_event +
    ``TIMEOUT_GAP_MS`` on every arrival, and the session summary is
    emitted ONLY when the timeout fires, after which the state is
    removed (a later event opens a fresh session).

    Engine rules probed on this engine (availableNow file drains,
    ``maxFilesPerTrigger=1``) and encoded in the drain's oracle:

    - input rows are dropped iff ``ts <= late_wm`` (the two-batch-
      lagged watermark — same rule as every other stateful op probed);
    - a timeout fires in batch k iff the group received NO data in
      batch k (data is processed first and re-arms the timer) and
      ``timeout_ts < evict_wm(k)`` — the ONE-batch-lagged eviction
      watermark, STRICT boundary (a timer exactly at the watermark
      stays armed); ``timeout_ts`` is ``last_event + gap`` clamped to
      the setting batch's watermark + 1 ms (the engine rejects timers
      at or below the current watermark, and late-filter admission
      lags eviction by one batch, so the clamp genuinely engages);
    - the trailing no-data cleanup batch fires whatever the final
      eviction watermark has passed; state that never times out is
      never emitted.

    Money is carried as integer cents inside the state (python Decimal
    per value — float cents drift would poison the hash)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        from decimal import Decimal

        if state.hasTimedOut:
            n, cents, last_ms = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_cents": [cents],
                    "last_ms": [last_ms],
                }
            )
            return
        n, cents, last_ms = state.get if state.exists else (0, 0, 0)
        for pdf in pdfs:
            if not len(pdf):
                continue
            n += len(pdf)
            cents += int(
                sum(
                    Decimal(str(v)).scaleb(2).to_integral_value()
                    for v in pdf["value"]
                )
            )
            last_ms = max(
                last_ms, int(pdf["ts"].astype("int64").max() // 1_000_000)
            )
        state.update((n, cents, last_ms))
        # clamp to watermark + 1: late-filter admission lags the
        # eviction watermark by one batch (probed), so an admitted row
        # can carry last_ms + gap BELOW the current watermark — the
        # engine rejects past timers (INVALID_TIMEOUT_TIMESTAMP). The
        # clamped timer fires at the first later batch whose eviction
        # watermark has advanced past it (encoded in the drain oracle).
        state.setTimeoutTimestamp(
            max(last_ms + TIMEOUT_GAP_MS, state.getCurrentWatermarkMs() + 1)
        )
        return
        yield  # unreachable: keeps the function a generator

    stream = (
        read_file_stream(spark, source_dir, max_files_per_trigger=1)
        .select("user_id", "ts", "value")
        .withWatermark("ts", WATERMARK)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            "user_id bigint, n_events bigint, total_cents bigint, last_ms bigint",
            "n bigint, cents bigint, last_ms bigint",
            "update",
            GroupStateTimeout.EventTimeTimeout,
        )
    )
    return drain_to_frame(stream, checkpoint_dir, "update").select(
        "user_id",
        "n_events",
        "total_cents",
        F.timestamp_millis(F.col("last_ms")).alias("last_ts"),
    )


def run_interval_join_multibatch_stream(
    spark: SparkSession, source_dir: str, checkpoint_dir: str
) -> DataFrame:
    """The inner interval join with ``maxFilesPerTrigger=1`` — each
    staged delivery is a REAL micro-batch. (Without the option the
    file source drains every available file in ONE availableNow batch
    — probed — so no state would cross a batch boundary at all. With
    clicks staged in batch 1 and errors in batch 2, every emitted pair
    genuinely crosses a batch boundary through click state, and the
    errors-side tracker stays at
    zero through batch 1 — no data — so the global min-of-sides
    watermark admits everything and the complete-join oracle is
    exact.)"""
    joined = _interval_join(spark, source_dir, "inner", 1).select(
        "error_id", "e_user_id", "error_ts", "click_id", "click_ts"
    )
    return drain_to_frame(joined, checkpoint_dir, "append")


def run_interval_semi_join_stream(
    spark: SparkSession, source_dir: str, checkpoint_dir: str
) -> DataFrame:
    """LEFT-SEMI stream-stream interval join: each error event emitted
    AT MOST ONCE, when its first same-user click in the preceding 10
    minutes is seen — the "has a matching event" gate pipelines use to
    avoid the pair fan-out of an inner join. The engine tracks the
    matched flag in join state, so an error matching clicks in several
    micro-batches still emits exactly once — the fixture's pair space
    has no multi-click errors, so that rule is pinned by the synthetic
    pytest (tests/test_extensions.py), while the drain hash covers the
    admission rules on the fixture (the probed dual-watermark rules
    documented on :func:`run_interval_left_join_stream`)."""
    joined = _interval_join(spark, source_dir, "leftSemi", 1).select(
        "error_id", "e_user_id", "error_ts"
    )
    return drain_to_frame(joined, checkpoint_dir, "append")


def run_static_enrich_stream(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    sink_dir: str,
    dim: DataFrame,
) -> DataFrame:
    """STREAM-STATIC broadcast enrichment — the join shape next to the
    stream-stream matrix that every ingest pipeline runs: the
    streaming events join a STATIC dimension INSIDE the streaming plan
    (no state, no watermark — the static side is re-planned per
    micro-batch, so between-batch dim updates are visible; at scale
    this is the map-side dim enrich, a BroadcastHashJoin under the
    streaming scan — tests/test_streamed_enrich.py asserts the plan).
    ``maxFilesPerTrigger=1`` makes the broadcast serve several REAL
    micro-batches; the parquet file sink's ``_spark_metadata`` log
    keeps the output exactly-once (same contract as
    :func:`run_resumable_stream`)."""
    src = read_file_stream(spark, source_dir, max_files_per_trigger=1)
    enriched = src.join(
        F.broadcast(dim), src["user_id"] == dim["c_custkey"], "left"
    ).select(
        "event_id", "user_id", "event_type", "ts", "value", "c_mktsegment"
    )
    sink = enriched.writeStream.format("parquet").option("path", sink_dir)
    drain((sink, checkpoint_dir))
    return spark.read.parquet(sink_dir)


def run_resumable_stream(
    spark: SparkSession, source_dir: str, checkpoint_dir: str, sink_dir: str
) -> DataFrame:
    """One availableNow drain of the parquet file source into an
    exactly-once parquet FILE sink. Call again with the same
    checkpoint/sink after the source directory has grown: the
    checkpoint's committed source offsets skip already-processed files
    and the file sink's transactional ``_spark_metadata`` log makes the
    output exactly-once across restarts (a crashed/retried batch never
    double-counts — the recovery contract a production ingest pipeline
    leans on).

    The transform is a stateless enrichment (decimal-exact value
    doubling) so the exactly-once property is attributable purely to
    source-offset + sink-manifest recovery, not to aggregation state.
    Returns the sink as a batch frame (the read honors the manifest, so
    orphaned files from killed batches are invisible).
    """
    enriched = read_file_stream(spark, source_dir).select(
        "event_id",
        "user_id",
        "event_type",
        "ts",
        F.round(money("value") * 2, 2).cast("double").alias("double_value"),
    )
    sink = enriched.writeStream.format("parquet").option("path", sink_dir)
    drain((sink, checkpoint_dir))
    return spark.read.parquet(sink_dir)


def run_foreach_batch_upsert_stream(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    state_dir: str,
) -> DataFrame:
    """Micro-batch upsert (MERGE) into a keyed parquet state table via
    ``foreachBatch`` — the ingest pattern for maintaining a serving
    table from a stream when the sink has no native streaming writer.

    Each micro-batch (``maxFilesPerTrigger=1`` forces one batch per
    source file, so the merge path is genuinely exercised) is partially
    aggregated to per-user mergeable state (count / exact DECIMAL sum /
    max-timestamp — the same merge algebra as
    ``operators/incremental.py``), unioned with the existing state
    table, and re-aggregated; the result is materialized
    (``localCheckpoint``) *before* overwriting the state directory it
    was read from. Because the state is mergeable and each batch folds
    in exactly once (foreachBatch runs under the checkpoint's batch-id
    transaction log), the final table is arrival-order independent and
    equals the batch groupBy — pytest asserts this, and that a restart
    with the same checkpoint does not double-fold.

    Exactly-once under RETRY, not just restart: state is versioned by
    streaming batch id (``v_<batch_id>``), and each batch merges from
    its PREDECESSOR version, never from "current state". A batch
    retried after its write succeeded but before the checkpoint
    committed rebuilds the same version from the same predecessor —
    idempotent — where a single mutable state table would fold the
    batch in twice (:func:`_upsert_batch` is the testable unit; the
    retry test calls it twice with the same id). At cluster scale the
    version chain is what a transactional table format's MERGE gives
    you; on raw parquet the per-version overwrite plays that role.
    Versions older than the predecessor are pruned (the predecessor
    itself is kept — a retry of the current batch still reads it).
    """
    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        _upsert_batch(spark, state_dir, batch_df, batch_id)

    raw = read_file_stream(spark, source_dir, max_files_per_trigger=1)
    drain((raw.writeStream.foreachBatch(upsert), checkpoint_dir))
    latest = _latest_state_version(spark, state_dir)
    if latest is None:  # empty source: no batch ran
        return spark.createDataFrame(
            [], "user_id bigint, n_events bigint,"
            " total_value double, last_ts timestamp"
        )
    return spark.read.parquet(f"{state_dir}/v_{latest}").select(
        "user_id",
        "n_events",
        F.round(F.col("value_sum"), 2).cast("double").alias("total_value"),
        F.timestamp_micros(F.col("last_us")).alias("last_ts"),
    )


def _state_versions(spark: SparkSession, state_dir: str) -> list[int]:
    """Version ids present in the state store, listed via the Hadoop
    FileSystem API so the versioned upsert works wherever Spark can
    write parquet (local path under test, HDFS/S3 URI on a cluster)."""
    from .statefs import list_subdirs

    return [
        int(name[2:])
        for name, _ in list_subdirs(spark, state_dir)
        if name.startswith("v_") and name[2:].isdigit()
    ]


def _latest_state_version(spark: SparkSession, state_dir: str) -> int | None:
    versions = _state_versions(spark, state_dir)
    return max(versions) if versions else None


def _upsert_batch(
    spark: SparkSession, state_dir: str, batch_df: DataFrame, batch_id: int
) -> None:
    """One idempotent MERGE step: fold ``batch_df``'s per-user partial
    state into the predecessor version (largest v < batch_id), writing
    ``v_<batch_id>``. Re-running with the same (batch, id) rebuilds the
    identical version — the retry contract of the foreachBatch log."""
    from .statefs import delete_dir

    part = batch_df.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(money("value")).alias("value_sum"),
        F.max(F.unix_micros("ts")).alias("last_us"),
    )
    versions = _state_versions(spark, state_dir)
    prev = max((v for v in versions if v < batch_id), default=None)
    if prev is not None:
        # declared schema: the state dir is written by THIS function,
        # so its schema is the partial frame's own — no per-batch
        # footer inference
        merged = (
            spark.read.schema(part.schema)
            .parquet(f"{state_dir}/v_{prev}")
            .unionByName(part)
            .groupBy("user_id")
            .agg(
                F.sum("n_events").alias("n_events"),
                F.sum("value_sum")
                .cast(part.schema["value_sum"].dataType)
                .alias("value_sum"),
                F.max("last_us").alias("last_us"),
            )
        )
    else:
        merged = part
    merged.write.mode("overwrite").parquet(f"{state_dir}/v_{batch_id}")
    # prune grandparents: a retry of THIS batch only needs `prev`
    for v in versions:
        if prev is not None and v < prev:
            delete_dir(spark, f"{state_dir}/v_{v}")


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "stream_tumbling_counts": events_tumbling_counts,
    "stream_sliding_counts": events_sliding_counts,
    "stream_session_windows": events_session_windows,
    "stream_dedup_first": events_stream_dedup,
    "events_json_extract": events_json_extract,
    "events_variant_extract": events_variant_extract,
}

_VAL_SUM = "CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE)"

ORACLES: dict[str, str] = {
    "stream_tumbling_counts": f"""
        SELECT time_bucket(INTERVAL '10 minutes', ts) AS window_start,
               time_bucket(INTERVAL '10 minutes', ts) + INTERVAL '10 minutes'
                   AS window_end,
               event_type, count(*) AS n_events, {_VAL_SUM} AS total_value
        FROM events GROUP BY 1, 2, 3""",
    "stream_sliding_counts": f"""
        WITH exploded AS (
            SELECT unnest([
                       time_bucket(INTERVAL '5 minutes', ts),
                       time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes'
                   ]) AS window_start,
                   value
            FROM events)
        SELECT window_start, window_start + INTERVAL '10 minutes' AS window_end,
               count(*) AS n_events, {_VAL_SUM} AS total_value
        FROM exploded GROUP BY 1, 2""",
    "stream_session_windows": f"""
        WITH marked AS (
            SELECT user_id, ts, value, event_id,
                CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                          > INTERVAL '4 hours'
                     OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                          IS NULL
                     THEN 1 ELSE 0 END AS new_session
            FROM events),
        numbered AS (
            SELECT *, sum(new_session) OVER (
                PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
            FROM marked)
        SELECT user_id, min(ts) AS session_start,
               max(ts) + INTERVAL '4 hours' AS session_end,
               count(*) AS n_events, {_VAL_SUM} AS total_value
        FROM numbered GROUP BY user_id, session_id""",
    "stream_dedup_first": """
        SELECT event_id, ts, user_id, event_type, value FROM (
            SELECT *, row_number() OVER (
                PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
            FROM events) WHERE rn = 1""",
    "events_json_extract": """
        SELECT event_type, count(*) AS n_events,
               CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
                    AS BIGINT) AS sum_k,
               max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        FROM events GROUP BY event_type""",
    # recompute the variant-navigated facts from the typed columns:
    # hash-match proves the build->parse->navigate->cast round-trip
    "events_variant_extract": """
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                   AS sum_value,
               CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
                    AS BIGINT) AS sum_k,
               -- count(event_type), not count(*): a NULL event_type row
               -- has its tag dropped by to_json, so Spark scores it 0
               CAST(count(event_type) AS BIGINT) AS n_tag_match
        FROM events GROUP BY event_type""",
}

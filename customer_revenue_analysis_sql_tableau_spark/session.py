"""SparkSession factory.

The reference delegates execution to a single mysqld (InnoDB row store,
``sql/sakila-schema.sql:51``); we delegate to Spark's Catalyst + Tungsten.
Session defaults encode the 100 TB posture from SURVEY.md §7.4: AQE on
(runtime re-plan, skew-join splitting), UTC session timezone (the Sakila
DATETIMEs and driver testdata timestamps are timezone-naive), generous
broadcast threshold (every dimension table is far below it at any SF —
at 100 TB the dims are still ~MBs while facts are TBs).

This module is the only code that writes the session conf:
:func:`apply_runtime_confs` pins the engine defaults, and a query path
that needs a different value for the length of one call takes it
through :func:`scoped_conf`. It is also the only code that starts a
stream: :func:`drain` runs writers to completion, :func:`drain_to_frame`
reads a drained memory sink, :func:`read_file_stream` opens a parquet
file source and :func:`stage_deliveries` stages its delivery files.
"""

from __future__ import annotations

import glob
import os
import threading
import time
import uuid
from collections.abc import Iterable, Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

#: Runtime-settable confs, safe to (re)apply to an externally-provided
#: session (the driver owns the session for `__spark_entry__` calls).
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    # pin ANSI semantics (the Spark 4 default) against host sessions
    # configured with ansi=false, where casts/overflows silently change
    # from errors to NULLs and corrupt results instead of failing
    "spark.sql.ansi.enabled": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # dims (region/nation/customer/supplier/part) stay broadcastable well
    # past sf0.1; at true 100 TB only region/nation/part metadata remain
    # under this, which is exactly what we want broadcast.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # list directories on the driver up to 4096 paths before falling
    # back to a distributed listing JOB (default threshold: 32 paths).
    # The cell-partitioned segment stores put 100+ partition dirs under
    # one index, so every fresh read was paying ~3 listing jobs of pure
    # scheduling overhead (~0.5 s/read at sf0.1) to list a few hundred
    # local files the driver lists in microseconds. 4096 is still far
    # below where driver-side listing hurts (object-store tables with
    # tens of thousands of partitions — re-lower per deployment there;
    # manifest-backed tables never directory-list at all, SCALE.md).
    "spark.sql.sources.parallelPartitionDiscovery.threshold": "4096",
    # trust the sort order recorded by bucketed-sorted writes
    # (save_bucketed's bucketBy+sortBy): off (the Spark 3+ default),
    # every join/agg over the bucketed facts re-sorts both sides per
    # query — paying at query time the exact sort the layout already
    # paid at ingest. On, the scan reports its output ordering (Spark
    # honors it only when each bucket is a single file, which
    # save_bucketed's single-writer layout guarantees) and the bucket
    # SMJ plans with zero Exchange AND zero Sort (r15; plan diff in
    # plans/r15/view_customer_value_summary_bucketed_after.txt).
    "spark.sql.legacy.bucketedTableScan.outputOrdering": "true",
    # write timestamps as TIMESTAMP_MICROS, not the legacy INT96:
    # INT96 columns carry NO parquet min/max statistics, so every
    # time-predicate loses footer-level data skipping — at 100 TB that
    # is the difference between pruning files and scanning them (found
    # by the z-order skipping test reading footers directly).
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
}


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an existing session (idempotent)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf locked by the host session; keep going
    return spark


def get_spark(
    app_name: str = "customer-revenue-analysis-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (driver contract)
    or ``local[*]``.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Size the generated-class cache for a multi-query workload: the
        # 100-entry default thrashes once ~25+ distinct plans cycle in
        # one JVM, forcing whole-stage recompilation (~0.2-0.5 s per
        # complex query, every run) — measured 22.3 s -> 17.5 s across
        # the 28-query bench at sf0.1. Generated classes are small;
        # 5000 entries is a few hundred MB of metaspace at worst and the
        # setting a long-lived production driver would use.
        .config("spark.sql.codegen.cache.maxEntries", "5000")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return apply_runtime_confs(spark)


#: Conf keys held by a live :func:`scoped_conf` (one owner per key).
_OWNED: set[str] = set()
_OWNED_LOCK = threading.Lock()


@contextmanager
def scoped_conf(spark: SparkSession, confs: dict[str, str]) -> Iterator[None]:
    """Set ``confs`` on the session for the body of a ``with`` block.

    - Exact restore: a key unset before the scope is unset after it; a
      set key gets its old value back — also when the body raises.
    - Single owner: entering a scope on a key another live scope holds
      raises, and so does a body that changed an owned key (e.g. a
      ``load_tables`` call re-applying :data:`RUNTIME_CONFS`). The
      latter check is skipped when the body raised, so the body's own
      exception is never masked.

    Lazy frames plan when an action runs: materialize inside the scope
    whatever must be planned under ``confs``.
    """
    with _OWNED_LOCK:
        clash = _OWNED.intersection(confs)
        if clash:
            raise RuntimeError(
                f"session conf {sorted(clash)} is already owned by a live scoped_conf"
            )
        _OWNED.update(confs)
    try:
        old = {k: spark.conf.get(k, None) for k in confs}
        changed: list[str] = []
        try:
            for k, v in confs.items():
                spark.conf.set(k, v)
            yield
            changed = [k for k, v in confs.items() if spark.conf.get(k, None) != v]
        finally:
            for k, v in old.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
        if changed:
            raise RuntimeError(
                f"session conf {sorted(changed)} was changed inside the "
                "scoped_conf that owns it"
            )
    finally:
        with _OWNED_LOCK:
            _OWNED.difference_update(confs)


def partition_count(spark: SparkSession, size: int, per_partition: int) -> int:
    """Partitions for ``size`` units at ``per_partition`` units each:
    ``ceil(size / per_partition)``, at least one and at most
    ``spark.sql.shuffle.partitions`` (the conf a cluster sizes)."""
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return max(1, min(cap, -(-size // per_partition)))


def checkpoint_layout(
    spark: SparkSession, df: DataFrame, rows_per_partition: int, *keys: str
) -> DataFrame:
    """Eager ``localCheckpoint`` whose leaf keeps a planner-usable layout.

    A checkpoint made under AQE reports ``UnknownPartitioning``, so every
    downstream join or aggregation on the checkpoint's key pays a fresh
    Exchange. The frame is therefore checkpointed once with AQE on (the
    heavy build keeps runtime re-planning), its row count sizes the
    layout at ``rows_per_partition`` rows per partition (capped at
    ``spark.sql.shuffle.partitions``, the conf a cluster sizes), and the
    cheap re-layout is checkpointed again with AQE off:

    - with ``keys``: ``hashpartitioning(keys, n)`` is captured, so joins
      and aggregations keyed the same way are exchange-free on this side;
    - without ``keys``: a frame that fits one partition is captured as
      ``SinglePartition`` (which satisfies any grouping distribution); a
      larger one is returned as first checkpointed, since
      ``UnknownPartitioning(n)`` gives the planner nothing.
    """
    raw = df.localCheckpoint()
    n = partition_count(spark, raw.count(), rows_per_partition)
    if keys:
        relaid = raw.repartition(n, *keys)
    elif n == 1:
        relaid = raw.coalesce(1)
    else:
        return raw
    with scoped_conf(spark, {"spark.sql.adaptive.enabled": "false"}):
        return relaid.localCheckpoint()


def drain(*streams: tuple[DataStreamWriter, str]) -> list[StreamingQuery]:
    """Run each ``(writer, checkpoint_dir)`` to completion with an
    ``availableNow`` trigger; return the stopped queries (``runId``,
    ``recentProgress``).

    Every query starts before any is awaited, so concurrent writers
    really race. If a start or a query fails, every query still active
    is stopped before the first error re-raises: no query outlives the
    call, whose caller may be about to delete the stream's directories.
    """
    started: list[StreamingQuery] = []
    try:
        for writer, checkpoint_dir in streams:
            started.append(
                writer.option("checkpointLocation", checkpoint_dir)
                .trigger(availableNow=True)
                .start()
            )
        for query in started:
            query.awaitTermination()
    except BaseException:
        for query in started:
            if query.isActive:
                query.stop()
        raise
    return started


def drain_to_frame(stream: DataFrame, checkpoint_dir: str, mode: str) -> DataFrame:
    """:func:`drain` ``stream`` into a memory sink in output ``mode`` and
    return the sink's rows.

    The sink gets a fresh name per call and its temp view is dropped
    before returning, so a drain leaves no view in the caller's session
    and two drains on one session never collide. The returned frame is
    already resolved to the sink, so it reads after the drop.
    """
    name = f"drain_{uuid.uuid4().hex}"
    spark = stream.sparkSession
    try:
        writer = stream.writeStream.format("memory").queryName(name)
        drain((writer.outputMode(mode), checkpoint_dir))
        return spark.table(name)
    finally:
        spark.catalog.dropTempView(name)


def read_file_stream(
    spark: SparkSession,
    source_dir: str,
    max_files_per_trigger: int | None = None,
    schema: str | None = None,
) -> DataFrame:
    """Parquet file-source stream over ``source_dir`` (schema inferred
    from the staged files unless declared), ``maxFilesPerTrigger`` files
    per micro-batch when given. A ``ts`` column written as
    ``timestamp[us]`` without zone reads as TIMESTAMP_NTZ, which
    ``withWatermark`` rejects; it is cast to TIMESTAMP, value-preserving
    under the engine's UTC session zone."""
    reader = spark.readStream.schema(schema or spark.read.parquet(source_dir).schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.parquet(source_dir)
    if dict(raw.dtypes).get("ts") == "timestamp_ntz":
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def stage_deliveries(frames: Iterable[DataFrame], src_dir: str) -> str:
    """Write each frame as one ``coalesce(1)`` parquet delivery under the
    local directory ``src_dir``; return ``src_dir``.

    The file source orders micro-batches by modification time, so the
    deliveries get strictly increasing mtimes (10 s apart, in the past):
    with ``maxFilesPerTrigger=1`` delivery k is micro-batch k. A later
    call on the same directory stamps after every delivery already
    there, so a restarted stream sees the new files last.
    """
    seen = set(glob.glob(f"{src_dir}/part-*.parquet"))
    stamp = time.time() - 1000 + 10 * len(seen)
    for df in frames:
        df.coalesce(1).write.mode("append").parquet(src_dir)
        new = set(glob.glob(f"{src_dir}/part-*.parquet")) - seen
        for f in new:
            os.utime(f, (stamp, stamp))
        seen |= new
        stamp += 10
    return src_dir

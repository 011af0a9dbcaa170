"""Testdata catalog: parquet-backed tables registered as temp views.

Twin of the reference's ``USE sakila`` + InnoDB catalog
(``queries_shan.sql:4``, ``sql/sakila-schema.sql:36-345``): the driver
testdata (TESTDATA.md) is a TPC-H-ish star schema standing in for the
Sakila snowflake — ``customer→nation→region`` plays
``customer→address→city→country``, ``orders`` plays ``rental``,
``lineitem`` plays ``payment``+``inventory``, ``part`` plays
``film``+``category``.

Scale posture: tables load lazily as columnar parquet scans (predicate
pushdown + column pruning reach the scan), dims are hinted broadcastable;
nothing here collects to the driver.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import apply_runtime_confs

#: Every driver-testdata table (TESTDATA.md), one parquet file each.
TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Dimension tables small enough to broadcast at any scale factor.
BROADCAST_DIMS: frozenset[str] = frozenset({"region", "nation", "supplier", "part"})

#: Memoized (applicationId, sf_dir, table) → normalized DataFrame.
#: spark.read.parquet pays a driver-side footer/schema read per call
#: (~80 ms/table); a registry entry loads up to 6 tables, so repeated
#: loads were adding ~0.5 s to EVERY query. DataFrames are immutable
#: logical plans over read-only testdata, so reuse is safe; keying on
#: applicationId (the _VIEW_CACHE recipe, queries.py) drops plans bound
#: to dead SparkContexts after a session restart.
_TABLE_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def _table_files(sf_dir: str, table: str | None) -> tuple[str, list[str]]:
    """Root of ``sf_dir`` (or of one ``table`` in it) and every file
    under it: one parquet file, or a directory of part files."""
    root = os.path.join(sf_dir, f"{table}.parquet") if table else sf_dir
    if os.path.isfile(root):
        return root, [root]
    return root, [os.path.join(r, f) for r, _dirs, fs in os.walk(root) for f in fs]


def source_fingerprint(sf_dir: str, table: str | None = None) -> str:
    """8-hex content fingerprint of ``sf_dir`` (or of one ``table`` in
    it): relative path, size and mtime-ns of every file under it, so an
    in-place rewrite of any part file changes it. No data is read — at
    100 TB this is a metadata listing, the signal a table format's
    snapshot id provides. Persisted artifacts fold it into their
    directory names so changed inputs never serve a stale build."""
    root, paths = _table_files(sf_dir, table)
    parts: list[str] = []
    for p in paths:
        try:
            st = os.stat(p)
        except OSError:
            continue
        parts.append(f"{os.path.relpath(p, root)}:{st.st_size}:{st.st_mtime_ns}")
    return hashlib.md5(
        (sf_dir.rstrip("/") + "\0" + "\n".join(sorted(parts))).encode()
    ).hexdigest()[:8]


def footer_rows(sf_dir: str, table: str) -> int:
    """Row count of ``table`` summed from its parquet footers — a driver
    metadata read (KBs per file), no Spark job. Hidden files (``_SUCCESS``,
    ``.crc``) are skipped, as Spark's own listing skips them."""
    import pyarrow.parquet as pq

    _root, paths = _table_files(sf_dir, table)
    return sum(
        pq.read_metadata(p).num_rows
        for p in paths
        if not os.path.basename(p).startswith(("_", "."))
    )


def ensure_utc_session(spark: SparkSession) -> None:
    """Pin the engine runtime confs and fail loudly if the zone stuck.

    Every entry point that can serve results WITHOUT passing through
    ``load_tables`` (e.g. a memoized materialization cache hit) must
    call this too: timestamp field extraction (``dayofmonth`` etc.)
    evaluates in the session zone at EXECUTION time, so a hostile-TZ
    host session reaching a cached plan directly would shift date
    groups even though the cached rows are correct UTC instants."""
    apply_runtime_confs(spark)
    tz = spark.conf.get("spark.sql.session.timeZone")
    if tz != "UTC":
        raise RuntimeError(
            f"session timezone is {tz!r}, not UTC — refusing to normalize "
            "TIMESTAMP_NTZ columns (values would shift by the zone offset)"
        )


def load_tables(
    spark: SparkSession,
    sf_dir: str,
    names: tuple[str, ...] = TABLES,
    register: bool = True,
) -> dict[str, DataFrame]:
    """Load testdata parquet tables; optionally register as temp views.

    Applies engine runtime confs (UTC timezone, AQE) so results are
    deterministic even when the host session was created elsewhere.
    The NTZ→TIMESTAMP normalization is value-preserving ONLY in a UTC
    session; apply_runtime_confs ignores conf-set failures, so a host
    session that locked a different zone must fail loudly here rather
    than silently shift every event timestamp.
    """
    ensure_utc_session(spark)
    app_id = spark.sparkContext.applicationId
    for stale in [k for k in _TABLE_CACHE if k[0] != app_id]:
        del _TABLE_CACHE[stale]
    dfs: dict[str, DataFrame] = {}
    for name in names:
        key = (app_id, sf_dir, name)
        df = _TABLE_CACHE.get(key)
        if df is None:
            df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
            # events.parquet stores ts as timestamp[us] with no timezone,
            # which Spark reads as TIMESTAMP_NTZ. The engine (unix_micros,
            # watermarks) needs TIMESTAMP; with the session tz pinned UTC
            # the cast is value-preserving, so normalize at the source.
            for field in df.schema.fields:
                if field.dataType.simpleString() == "timestamp_ntz":
                    df = df.withColumn(
                        field.name, F.col(field.name).cast("timestamp")
                    )
            _TABLE_CACHE[key] = df
        dfs[name] = df
        if register:
            df.createOrReplaceTempView(name)
    return dfs

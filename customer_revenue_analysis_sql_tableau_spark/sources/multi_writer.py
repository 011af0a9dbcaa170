"""TWO CONCURRENT STREAMING WRITERS into one manifested table.

This module composes the CoW upsert staging
(``manifest_table.stage_upsert``, shared with the exactly-once
streaming MERGE sink) with the optimistic transaction protocol
(``commit_transaction``: CAS + semantic conflict check on rebase): two
Structured Streaming queries drain CONCURRENTLY into the same table,
each micro-batch a transactional CoW MERGE that retries through
``commit_transaction`` — so the two writers' commits interleave
arbitrarily, rebase over each other when their write sets are
file-disjoint, and the final table is the deterministic union of both
drains' upserts regardless of scheduling.

Isolation model (the lakehouse one): conflicts are detected at FILE
granularity. The writers here split the table by PARTITION (writer A
owns months < ``TWOW_SPLIT``, writer B the rest), the deployment
pattern Delta documents for concurrent writers — their CoW rewrite
sets never intersect, so every race resolves as a REBASE, never an
abort. The entry then *engineers* both end states deterministically
and captures them raise-if-absent (the ``parquet_manifest_conflict_
detect`` discipline): a stale transaction whose removed files an
earlier merge already rewrote must ABORT with
:class:`~.manifest_table.CommitConflictError`, and a stale but
file-disjoint head-carry must REBASE (rebases >= 1). A run in which
either marker fails to appear raises instead of returning rows.

Exactly-once per writer: each commit is tagged ``(writer, batch)`` in
the manifest payload; a replayed micro-batch finds its tag already in
the chain and skips — the multi-writer twin of the append sink's
batch-id version arithmetic (which cannot work here: two writers
cannot both own ``batch_id + 2``).

Scale posture: per batch, matched-file discovery is one broadcast
semi-join (driver sees file-count-bounded (month, file) pairs);
rewrite I/O ∝ files holding matched keys; commit retries are KB-sized
manifest arithmetic with the staged files reused verbatim across
rebases; every write stages in a private per-call directory, so
concurrent writers never touch each other's in-flight files.

Reference parity note: the reference (customer-revenue-analysis-sql-
tableau, a MySQL dump + Tableau workbook) has no concurrency surface;
this module belongs to the driver's large-scale-pipeline mandate.
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import source_fingerprint
from ..session import drain, read_file_stream, stage_deliveries
from .parquet import MONTH_COL
from . import manifest_table as mt

#: Writer A owns months strictly below the split; writer B the rest.
TWOW_SPLIT = "1995-07"
#: Writer A upserts keys ``o_orderkey % 4 == 1`` in its months, two
#: batches at absolute bumps +100 / +300 (last image wins); writer B
#: upserts ``% 4 == 2`` at +150 / +450. Batch 1 of each writer also
#: delivers key-shifted INSERT twins.
TWOW_A_MOD, TWOW_B_MOD = 1, 2
TWOW_A_BUMPS = (100.0, 300.0)
TWOW_B_BUMPS = (150.0, 450.0)
TWOW_A_OFFSET = 40_000_000
TWOW_B_OFFSET = 50_000_000


def _twow_root(spark: SparkSession, sf_dir: str) -> str:
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    return f"{warehouse}/manifest_twow_{source_fingerprint(sf_dir)}"


def _already_published(root: str, writer: str, batch_id: int) -> bool:
    return any(
        p.get("writer") == writer and p.get("batch") == batch_id
        for p in mt.manifest_chain(root).values()
    )


def publish_stream_merge_txn(
    spark: SparkSession,
    root: str,
    batch_df: DataFrame,
    writer: str,
    batch_id: int,
    key: str = "o_orderkey",
) -> int:
    """Publish ONE micro-batch as a TRANSACTIONAL full-row MERGE:
    CoW-rewrite the matched files without the batch keys, land the
    batch rows as new files, commit through ``commit_transaction``
    from the snapshot the batch read — a racing writer's commit
    triggers the semantic conflict check and, when write sets are
    file-disjoint, a rebase that reuses the staged files verbatim.
    Exactly-once via the ``(writer, batch)`` tag: a checkpoint replay
    finds the tag committed and skips. Returns the rebase count."""
    if _already_published(root, writer, batch_id):
        return 0
    if batch_df.isEmpty():
        return 0
    snap = mt.manifest_versions(root)[-1]
    batch = batch_df.withColumn(
        MONTH_COL, F.date_format(F.col("o_orderdate"), "yyyy-MM")
    )
    removed, added = mt.stage_upsert(
        spark, root, snap, batch, key,
        f"{writer}{batch_id}-", f"{writer}{batch_id}i-",
    )
    _, rebases = mt.commit_transaction(
        root,
        snap,
        removed,
        added,
        extra={
            "operation": "STREAM_MERGE",
            "writer": writer,
            "batch": batch_id,
        },
    )
    return rebases


def _writer_delivery(
    orders: DataFrame, domain, mod: int, bumps, offset: int
) -> list[DataFrame]:
    """The writer's two micro-batches: its keys at absolute bump 0,
    then the SAME keys re-delivered at bump 1 (last image must win)
    plus key-shifted insert twins."""
    mine = orders.filter(
        domain & (F.col("o_orderkey") % 4 == mod)
    ).select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
    b0 = mine.withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(bumps[0])
    )
    upd = mine.withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(bumps[1])
    )
    b1 = upd.unionByName(
        upd.withColumn("o_orderkey", F.col("o_orderkey") + F.lit(offset))
    )
    return [b0, b1]


def stream_manifest_two_writers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TWO streaming MERGE writers, one table, CONCURRENT drains —
    then the two concurrency end states engineered deterministically
    and captured raise-if-absent:

    1. v1 CREATEs the month-partitioned orders table;
    2. writer A (months < split, keys %4==1) and writer B (months >=
       split, keys %4==2) each run a 2-batch ``foreachBatch`` stream;
       BOTH queries are started before either is awaited, so their
       transactional batches race through ``commit_transaction`` and
       interleave — file-disjoint write sets, so every race rebases;
    3. REBASE marker: a deliberately stale (snapshot v1) head-carry
       transaction must report rebases >= 1 — raise if it doesn't;
    4. ABORT marker: a deliberately stale transaction removing a v1
       file writer A has since rewritten must raise
       ``CommitConflictError`` — raise if it commits.

    The registered query returns the ENTIRE final table: DuckDB
    recomputes the union of both drains' upserts (A keys at +300, B
    keys at +450, insert twins, everything else untouched) — a lost
    update, a double-applied batch, a neighbor row dropped by either
    writer's CoW, or cross-writer interference anywhere hash-fails.
    Idempotent: a complete universe (head == v6) is read back; an
    incomplete (torn) one is rebuilt from scratch."""
    import tempfile

    from ..catalog import ensure_utc_session, load_tables
    from .table_api import ManifestTable

    ensure_utc_session(spark)
    root = _twow_root(spark, sf_dir)
    base = root.removeprefix("file:")
    final_version = 6  # CREATE + 4 writer batches + rebase marker

    chain = mt.manifest_chain(root)
    if chain and max(chain) != final_version:
        shutil.rmtree(base, ignore_errors=True)  # torn universe: rebuild
        chain = {}
    if not chain:
        orders = load_tables(spark, sf_dir, names=("orders",))["orders"]
        ManifestTable.create(spark, orders, root, date_col="o_orderdate")
        pm = F.date_format(F.col("o_orderdate"), "yyyy-MM")
        deliveries = {
            "wa": _writer_delivery(
                orders, pm < TWOW_SPLIT, TWOW_A_MOD, TWOW_A_BUMPS,
                TWOW_A_OFFSET,
            ),
            "wb": _writer_delivery(
                orders, pm >= TWOW_SPLIT, TWOW_B_MOD, TWOW_B_BUMPS,
                TWOW_B_OFFSET,
            ),
        }
        tmp = tempfile.mkdtemp(prefix="manifest_twow_")
        try:
            streams = []
            for writer, batches in deliveries.items():
                src = stage_deliveries(batches, f"{tmp}/{writer}/src")

                def on_batch(bdf, bid, _w=writer):
                    publish_stream_merge_txn(spark, root, bdf, _w, int(bid))

                raw = read_file_stream(spark, src, 1, mt.ORDERS_STREAM_SCHEMA)
                streams.append(
                    (raw.writeStream.foreachBatch(on_batch), f"{tmp}/{writer}/ckpt")
                )
            # drain starts both queries before awaiting either: the
            # drains are concurrent and their commits race
            drain(*streams)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

        # -- engineered REBASE, captured (raise-if-absent) -----------
        _, rebases = mt.commit_transaction(
            root, 1, {}, {}, extra={"operation": "REBASE_MARKER"}
        )
        if rebases < 1:
            raise RuntimeError(
                "stale head-carry transaction did not rebase"
            )
        # -- engineered ABORT, captured (raise-if-absent) ------------
        v1_files = mt.resolve_manifest(root, 1)["files"]
        head_files = mt.resolve_manifest(root)["files"]
        rewritten = [
            (m, n)
            for m, ns in sorted(v1_files.items())
            if m < TWOW_SPLIT
            for n in ns
            if n not in set(head_files.get(m, []))
        ]
        if not rewritten:
            raise RuntimeError("writer A rewrote no v1 file (bad universe)")
        m, n = rewritten[0]
        aborted = False
        try:
            mt.commit_transaction(
                root, 1, {m: [n]}, {}, extra={"operation": "MUST_ABORT"}
            )
        except mt.CommitConflictError:
            aborted = True
        if not aborted:
            raise RuntimeError(
                "stale overlapping transaction committed instead of"
                " aborting"
            )

    return mt.read_manifested(spark, root).select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        "o_orderdate",
        F.col(MONTH_COL).alias("pm"),
    )


QUERIES = {"stream_manifest_two_writers": stream_manifest_two_writers}

ORACLES = {
    # the union of both drains' upserts, row-level over the whole
    # table: A keys (months < split, %4==1) end at +300 with +300
    # insert twins; B keys (months >= split, %4==2) end at +450 with
    # +450 twins; everything else byte-identical to the fact
    "stream_manifest_two_writers": f"""
        WITH base AS (
            SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate,
                   strftime(o_orderdate, '%Y-%m') AS pm
            FROM orders
        )
        SELECT o_orderkey, o_custkey,
               CASE WHEN pm < '{TWOW_SPLIT}'
                     AND o_orderkey % 4 = {TWOW_A_MOD}
                    THEN o_totalprice + {TWOW_A_BUMPS[1]}
                    WHEN pm >= '{TWOW_SPLIT}'
                     AND o_orderkey % 4 = {TWOW_B_MOD}
                    THEN o_totalprice + {TWOW_B_BUMPS[1]}
                    ELSE o_totalprice END AS o_totalprice,
               o_orderdate, pm
        FROM base
        UNION ALL
        SELECT o_orderkey + {TWOW_A_OFFSET}, o_custkey,
               o_totalprice + {TWOW_A_BUMPS[1]}, o_orderdate, pm
        FROM base
        WHERE pm < '{TWOW_SPLIT}' AND o_orderkey % 4 = {TWOW_A_MOD}
        UNION ALL
        SELECT o_orderkey + {TWOW_B_OFFSET}, o_custkey,
               o_totalprice + {TWOW_B_BUMPS[1]}, o_orderdate, pm
        FROM base
        WHERE pm >= '{TWOW_SPLIT}' AND o_orderkey % 4 = {TWOW_B_MOD}""",
}

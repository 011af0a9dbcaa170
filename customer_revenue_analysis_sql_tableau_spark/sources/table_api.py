"""User-facing table API over the manifest-committed parquet table.

The verbs live in :mod:`manifest_table` as first-principles protocol
functions, each proven by its own registered entry; this module is the
thin DECLARATIVE surface a pipeline author actually calls — the
Delta-style ``DeltaTable`` ergonomics on top of the same machinery:

    t = ManifestTable.create(spark, orders_df, root, date_col="o_orderdate")
    t.upsert(source_df, key="o_orderkey")        # MERGE (full-row)
    t.delete_where(months=["1996-01"], predicate=F.col("x") % 13 == 6)
    t.optimize(months=[...])                      # bin-pack
    t.optimize(months=[...], zorder_by=("a", "b"))
    t.history()                                   # DESCRIBE HISTORY
    t.change_feed(1, t.version(), keys=["o_orderkey"])
    t.vacuum()

Every mutation writes through the manifest table's copy-on-write
primitives (:func:`manifest_table.stage_and_land`, ``matched_files``,
``rewrite_files``, ``stage_upsert``), goes through
:func:`manifest_table.commit_transaction` (optimistic concurrency: CAS
+ semantic conflict check on rebase) and tags its commit with an
``operation`` field, which ``history()`` reads back — version,
operation, and file-level add/remove tallies, all KB of driver
metadata.

Generic-source note: ``upsert``/``delete_where``/``update`` rewrite
only the files that hold a match (a broadcast semi-join on the source
keys, or the predicate) — the driver collects only file-count-bounded
(month, file) pairs. At 100 TB a merge touching 0.1% of keys rewrites
GBs, not the table.

Reference parity note: the reference (customer-revenue-analysis-sql-
tableau, a MySQL dump + Tableau workbook) has no table-maintenance
surface; this module belongs to the driver's large-scale-pipeline
mandate.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import source_fingerprint
from ..lake_core import exclusive_write_json
from .parquet import MONTH_COL
from . import manifest_table as mt


class ConstraintViolationError(ValueError):
    """A write delivered rows that fail a table CHECK constraint —
    always loud, nothing lands."""


class ManifestTable:
    """Handle to a manifest-committed month-partitioned parquet table."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.base = root.removeprefix("file:")

    # -- lifecycle -----------------------------------------------------

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        df: DataFrame,
        root: str,
        date_col: str,
        files_per_month: int = 2,
    ) -> "ManifestTable":
        """Write ``df`` month-partitioned on ``date_col`` and commit
        ``manifest_v1`` tagged CREATE. Idempotent: an existing chain is
        opened, never re-staged."""
        t = cls(spark, root)
        if not mt.manifest_chain(root):
            (
                df.withColumn(
                    MONTH_COL, F.date_format(F.col(date_col), "yyyy-MM")
                )
                .repartition(files_per_month)
                .write.mode("overwrite")
                .partitionBy(MONTH_COL)
                .parquet(root)
            )
            os.makedirs(mt._mdir(root), exist_ok=True)
            exclusive_write_json(
                os.path.join(mt._mdir(root), "manifest_v1"),
                {
                    "version": 1,
                    "files": mt.scan_partition_files(root),
                    "operation": "CREATE",
                },
            )
        return t

    @classmethod
    def create_from(
        cls,
        spark: SparkSession,
        df: DataFrame,
        root: str,
        files_per_month: int = 2,
    ) -> "ManifestTable":
        """CTAS: write a frame that ALREADY CARRIES the partition
        column and commit CREATE — the `CREATE TABLE ... AS SELECT`
        verb (the SELECT derives ``part_month`` itself). Idempotent:
        an existing chain is opened, never re-staged."""
        if MONTH_COL not in df.columns:
            raise ValueError(
                f"create_from frame must carry {MONTH_COL} (derive it"
                " in the SELECT: date_format(<date>, 'yyyy-MM'))"
            )
        t = cls(spark, root)
        if not mt.manifest_chain(root):
            (
                df.repartition(files_per_month)
                .write.mode("overwrite")
                .partitionBy(MONTH_COL)
                .parquet(root)
            )
            os.makedirs(mt._mdir(root), exist_ok=True)
            exclusive_write_json(
                os.path.join(mt._mdir(root), "manifest_v1"),
                {
                    "version": 1,
                    "files": mt.scan_partition_files(root),
                    "operation": "CREATE",
                },
            )
        return t

    def replace_with(self, df: DataFrame) -> dict:
        """CREATE OR REPLACE: land the frame's files, commit ONE
        transaction removing EVERY current file and adding the new
        ones — readers pinned to older versions keep the pre-replace
        table (time travel across the replace), vacuum completes the
        swap's space reclaim. The frame must carry the partition
        column (same contract as :meth:`create_from`)."""
        if MONTH_COL not in df.columns:
            raise ValueError(
                f"replace_with frame must carry {MONTH_COL}"
            )
        snap = self.version()
        head_files = mt.resolve_manifest(self.root, snap)["files"]
        added = mt.stage_and_land(
            df.repartition(2), self.root, f"r{snap + 1}-"
        )
        payload, _reb = mt.commit_transaction(
            self.root,
            snap,
            {m: list(ns) for m, ns in head_files.items()},
            added,
            extra={"operation": "REPLACE"},
        )
        return payload

    def version(self) -> int:
        return mt.manifest_versions(self.root)[-1]

    def read(self, version: int | None = None) -> DataFrame:
        return mt.read_manifested(self.spark, self.root, version)

    # -- mutations (each ONE conflict-checked commit) --------------------

    def upsert(self, source: DataFrame, key: str) -> dict:
        """MERGE: full-row upsert — matched files CoW-rewritten without
        the source keys, the source's rows landed as new files (update
        = delete-old + insert-new), one commit tagged UPSERT. The
        source must carry the partition column; it is validated before
        any file is written."""
        if MONTH_COL not in source.columns:
            raise ValueError(
                f"upsert source must carry {MONTH_COL} (use "
                f"F.date_format(date_col, 'yyyy-MM'))"
            )
        self._enforce(self.constraints(), source, "the MERGE source")
        snap = self.version()
        v = snap + 1
        removed, added = mt.stage_upsert(
            self.spark, self.root, snap, source, key, f"u{v}-", f"i{v}-"
        )
        payload, _reb = mt.commit_transaction(
            self.root, snap, removed, added, extra={"operation": "UPSERT"}
        )
        return payload

    def delete_where(
        self,
        months: list[str] | None = None,
        predicate: Column | None = None,
    ) -> dict:
        """DELETE: listed ``months`` drop as pure metadata; rows
        matching ``predicate`` in the REMAINING months are removed by
        CoW-rewriting only the files that hold matches. One commit
        tagged DELETE."""
        months = months or []
        if not months and predicate is None:
            raise ValueError("delete_where needs months and/or a predicate")
        snap = self.version()
        head_files = mt.resolve_manifest(self.root, snap)["files"]
        removed = {m: list(head_files[m]) for m in months if m in head_files}
        added: dict[str, list[str]] = {}
        if predicate is not None:
            scope = self.read(snap).filter(~F.col(MONTH_COL).isin(months))
            # SQL DELETE removes only rows where the predicate is TRUE;
            # a NULL predicate (null column) must KEEP the row, so the
            # keep filter is NOT(coalesce(p, FALSE)), never the
            # three-valued ~p (~NULL is NULL, which would drop the row)
            rewritten, added = mt.rewrite_files(
                self.spark, self.root,
                mt.matched_files(scope, lambda d: d.filter(predicate)),
                lambda d: d.filter(~F.coalesce(predicate, F.lit(False))),
                f"d{snap + 1}-",
            )
            removed.update(rewritten)
        payload, _reb = mt.commit_transaction(
            self.root, snap, removed, added, extra={"operation": "DELETE"}
        )
        return payload

    # -- CHECK constraints (table metadata, enforced on every write) ----

    def constraints(self) -> dict[str, str]:
        return dict(
            mt.resolve_manifest(self.root).get("constraints", {})
        )

    def add_constraint(self, name: str, check_sql: str) -> dict:
        """ALTER TABLE ADD CONSTRAINT ... CHECK: validate the CURRENT
        table against the new check (Delta's contract — a constraint
        the existing data violates cannot be added), then commit the
        constraint map as pure metadata; ``commit_transaction``
        carries it forward through every later mutation. SQL CHECK
        semantics: a row fails only when the expression is FALSE —
        NULL passes."""
        cons = self.constraints()
        if name in cons:
            raise ValueError(f"constraint {name!r} already exists")
        self._enforce({name: check_sql}, self.read(), "existing rows")
        cons[name] = check_sql
        payload, _reb = mt.commit_transaction(
            self.root,
            self.version(),
            {},
            {},
            extra={"operation": "ADD_CONSTRAINT", "constraints": cons},
        )
        return payload

    def drop_constraint(self, name: str) -> dict:
        cons = self.constraints()
        if name not in cons:
            raise ValueError(f"no such constraint {name!r}")
        del cons[name]
        payload, _reb = mt.commit_transaction(
            self.root,
            self.version(),
            {},
            {},
            extra={"operation": "DROP_CONSTRAINT", "constraints": cons},
        )
        return payload

    def _enforce(
        self, cons: dict[str, str], df: DataFrame, what: str
    ) -> None:
        """ONE aggregation pass counting violations of every check
        over ``df``; raises naming each violated constraint. NULL
        checks pass (violation == expression IS FALSE)."""
        if not cons:
            return
        counts = df.agg(
            *[
                F.sum(
                    F.when(
                        ~F.coalesce(F.expr(sql), F.lit(True)), 1
                    ).otherwise(0)
                ).alias(name)
                for name, sql in sorted(cons.items())
            ]
        ).collect()[0]
        bad = {
            name: int(counts[name] or 0)
            for name in sorted(cons)
            if (counts[name] or 0) > 0
        }
        if bad:
            raise ConstraintViolationError(
                f"CHECK constraint(s) violated by {what}: "
                + ", ".join(
                    f"{n} [{cons[n]}] ({c} rows)" for n, c in bad.items()
                )
            )

    def update(
        self,
        assignments: dict[str, Column],
        predicate: Column,
    ) -> dict:
        """UPDATE ... SET ... WHERE: CoW-rewrite ONLY the files that
        hold a TRUE match, applying the assignments to matching rows
        (NULL-predicate rows are untouched — three-valued semantics,
        same discipline as DELETE) while neighbor rows ride along
        unchanged; one commit tagged UPDATE. Assignments to the
        partition column are rejected (a partition move is a
        delete+insert, i.e. MERGE territory)."""
        if MONTH_COL in assignments:
            raise ValueError(
                f"UPDATE cannot reassign the partition column"
                f" {MONTH_COL}; use upsert (delete-old + insert-new)"
            )
        snap = self.version()
        v = snap + 1
        scope = self.read(snap)
        hit = F.coalesce(predicate, F.lit(False))
        cons = self.constraints()
        if cons:
            post = scope.filter(hit).select(
                *[
                    assignments[c].alias(c) if c in assignments else F.col(c)
                    for c in scope.columns
                ]
            )
            self._enforce(cons, post, "the UPDATE's post-images")
        removed, added = mt.rewrite_files(
            self.spark, self.root,
            mt.matched_files(scope, lambda d: d.filter(predicate)),
            lambda d: d.select(
                *[
                    F.when(hit, assignments[c]).otherwise(F.col(c)).alias(c)
                    if c in assignments
                    else F.col(c)
                    for c in d.columns
                ]
            ),
            f"up{v}-",
        )
        payload, _reb = mt.commit_transaction(
            self.root, snap, removed, added, extra={"operation": "UPDATE"}
        )
        return payload

    def insert_into(self, source: DataFrame) -> dict:
        """INSERT INTO: land the source rows as new per-partition
        files and commit APPEND-ONLY (``removed={}``) — the one
        mutation that always commutes under optimistic concurrency;
        one commit tagged INSERT. The source must carry the partition
        column (same contract as upsert)."""
        if MONTH_COL not in source.columns:
            raise ValueError(
                f"insert_into source must carry {MONTH_COL} (use "
                f"F.date_format(date_col, 'yyyy-MM'))"
            )
        self._enforce(self.constraints(), source, "the INSERT source")
        snap = self.version()
        added = mt.stage_and_land(source, self.root, f"a{snap + 1}-")
        payload, _reb = mt.commit_transaction(
            self.root, snap, {}, added, extra={"operation": "INSERT"}
        )
        return payload

    def optimize(
        self,
        months: list[str],
        zorder_by: tuple[str, str] | None = None,
        files_per_month: int = mt.ZORDER_FILES_PER_MONTH,
    ) -> dict:
        """OPTIMIZE: bin-pack (narrow, no shuffle) or — with
        ``zorder_by`` — Morton-cluster (range shuffle) the selected
        months; one commit tagged OPTIMIZE / OPTIMIZE_ZORDER."""
        snap = self.version()
        head_files = mt.resolve_manifest(self.root, snap)["files"]
        v = snap + 1
        removed: dict[str, list[str]] = {}
        added: dict[str, list[str]] = {}
        for m in months:
            names = head_files[m]
            if zorder_by is not None:
                landed = mt.zorder_pack_partition(
                    self.spark, self.root, m, names, f"z{v}-",
                    zorder_by[0], zorder_by[1], files_per_month,
                )
            else:
                landed = mt.pack_partition_files(
                    self.spark, self.root, m, names, v
                )
            removed[m] = list(names)
            added[m] = landed
        op = "OPTIMIZE_ZORDER" if zorder_by else "OPTIMIZE"
        payload, _reb = mt.commit_transaction(
            self.root, snap, removed, added, extra={"operation": op}
        )
        return payload

    def restore(self, version: int) -> dict:
        """RESTORE TABLE TO VERSION: commit a NEW head whose file
        listing (and pinned schema, if any) is exactly the target
        version's — time travel made durable. Zero data I/O (file
        names re-referenced, never copied), vacuum-safe afterwards
        (the restored files are live again via the new head). The
        target must still be within the vacuum retention window: a
        restore to an expired version has nothing to reference."""
        snap = self.version()
        target = mt.resolve_manifest(self.root, version)
        head_files = mt.resolve_manifest(self.root, snap)["files"]
        tgt_files = target["files"]
        removed = {
            m: [n for n in ns if n not in set(tgt_files.get(m, []))]
            for m, ns in head_files.items()
        }
        added = {
            m: [n for n in ns if n not in set(head_files.get(m, []))]
            for m, ns in tgt_files.items()
        }
        extra = {"operation": "RESTORE", "restored_version": version}
        if "schema" in target:
            extra["schema"] = target["schema"]
        payload, _reb = mt.commit_transaction(
            self.root, snap, removed, added, extra=extra
        )
        return payload

    # -- reads over the chain -------------------------------------------

    def history(self) -> DataFrame:
        """DESCRIBE HISTORY: one row per committed version — operation
        tag plus file-level add/remove tallies vs the predecessor. Pure
        manifest arithmetic, KB of driver metadata."""
        chain = mt.manifest_chain(self.root)

        def rels(v: int) -> set[str]:
            return {
                f"{m}/{n}"
                for m, ns in chain[v]["files"].items()
                for n in ns
            }

        rows = []
        for v in sorted(chain):
            cur = rels(v)
            prev = rels(v - 1) if v - 1 in chain else set()
            rows.append(
                (
                    v,
                    chain[v].get("operation", "UNKNOWN"),
                    len(cur),
                    len(cur - prev),
                    len(prev - cur),
                )
            )
        return self.spark.createDataFrame(
            rows,
            "version int, operation string, n_files bigint,"
            " n_added_files bigint, n_removed_files bigint",
        )

    def change_feed(
        self, v_from: int, v_to: int, keys: list[str]
    ) -> DataFrame:
        return mt.read_change_feed(self.spark, self.root, v_from, v_to, keys)

    def incremental(self, v_from: int, v_to: int) -> DataFrame:
        return mt.read_manifested_incremental(
            self.spark, self.root, v_from, v_to
        )

    def vacuum(
        self,
        retain: int = mt.MANIFEST_RETAIN_LAST,
        grace_seconds: float = mt.VACUUM_ORPHAN_GRACE_SECONDS,
    ) -> tuple[list[str], list[int]]:
        return mt.vacuum_manifested(self.root, retain, grace_seconds)


# ---------------------------------------------------------------------------
# Registered entry: a four-verb lifecycle driven through the API, with
# DESCRIBE HISTORY + per-version row counts as the row-level oracle.
# ---------------------------------------------------------------------------

API_UPSERT_MOD, API_UPSERT_REM = 9, 2
API_PRICE_BUMP = 77.0
API_INSERT_OFFSET = 30_000_000
API_DROP_MONTH = "1996-01"
API_DEL_MOD, API_DEL_REM = 13, 6


def _api_root(spark: SparkSession, sf_dir: str) -> str:
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    return f"{warehouse}/manifest_api_{source_fingerprint(sf_dir)}"


def parquet_manifest_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESCRIBE HISTORY over a five-verb lifecycle driven entirely
    through the :class:`ManifestTable` API — CREATE, a mixed
    update+insert UPSERT, a two-tier DELETE (month drop + predicate
    CoW), an OPTIMIZE, and a RESTORE back to the pre-delete version
    (zero data I/O: the v2 file names are simply re-referenced — and
    the count proves the delete verifiably un-happened). The
    registered query joins the history's (version, operation) with
    each version's EXACT row count, all five recomputed by DuckDB from
    the verbs' deterministic semantics — a wrong operation tag, a lost
    version, or any verb touching the wrong rows hash-fails. Each
    phase is version-gated, so torn runs resume."""
    from ..catalog import load_tables

    root = _api_root(spark, sf_dir)
    orders = load_tables(spark, sf_dir, names=("orders",))["orders"]
    t = ManifestTable.create(spark, orders, root, date_col="o_orderdate")
    chain = mt.manifest_chain(root)
    pm = F.date_format(F.col("o_orderdate"), "yyyy-MM")
    if 2 not in chain:
        hit = t.read(1).filter(
            F.col("o_custkey") % API_UPSERT_MOD == API_UPSERT_REM
        )
        updates = hit.withColumn(
            "o_totalprice", F.col("o_totalprice") + API_PRICE_BUMP
        )
        inserts = hit.withColumn(
            "o_orderkey", F.col("o_orderkey") + API_INSERT_OFFSET
        )
        t.upsert(updates.unionByName(inserts), key="o_orderkey")
    if 3 not in mt.manifest_chain(root):
        t.delete_where(
            months=[API_DROP_MONTH],
            predicate=F.col("o_custkey") % API_DEL_MOD == API_DEL_REM,
        )
    if 4 not in mt.manifest_chain(root):
        sel = sorted(
            m
            for m in mt.manifest_chain(root)[3]["files"]
            if m < mt.ZORDER_CUTOFF
        )
        t.optimize(sel)
    if 5 not in mt.manifest_chain(root):
        t.restore(2)  # the delete verifiably un-happens
    hist = t.history()
    counts = [
        (v, t.read(v).count()) for v in sorted(mt.manifest_chain(root))
    ]
    counts_df = spark.createDataFrame(counts, "version int, n_rows bigint")
    return (
        hist.join(counts_df, "version")
        .select("version", "operation", "n_rows")
        .orderBy("version")
    )


QUERIES = {"parquet_manifest_history": parquet_manifest_history}

ORACLES = {
    # the whole lifecycle recomputed from the verbs' semantics: the
    # upsert adds one insert twin per matched key (same months); the
    # delete drops the month's rows (originals AND insert twins) plus
    # the predicate's matches elsewhere (again originals and twins —
    # custkey is shared); the optimize changes nothing
    "parquet_manifest_history": f"""
        WITH base AS (
            SELECT *, strftime(o_orderdate, '%Y-%m') AS pm FROM orders
        ), c AS (
            SELECT
              count(*) AS n1,
              sum(CASE WHEN o_custkey % {API_UPSERT_MOD} = {API_UPSERT_REM}
                       THEN 1 ELSE 0 END) AS ins,
              sum(CASE WHEN pm = '{API_DROP_MONTH}'
                       THEN (CASE WHEN o_custkey % {API_UPSERT_MOD}
                                       = {API_UPSERT_REM}
                             THEN 2 ELSE 1 END) ELSE 0 END) AS dropm,
              sum(CASE WHEN pm <> '{API_DROP_MONTH}'
                        AND o_custkey % {API_DEL_MOD} = {API_DEL_REM}
                       THEN (CASE WHEN o_custkey % {API_UPSERT_MOD}
                                       = {API_UPSERT_REM}
                             THEN 2 ELSE 1 END) ELSE 0 END) AS rowdel
            FROM base
        )
        SELECT 1 AS version, 'CREATE' AS operation,
               CAST(n1 AS BIGINT) AS n_rows FROM c
        UNION ALL
        SELECT 2, 'UPSERT', CAST(n1 + ins AS BIGINT) FROM c
        UNION ALL
        SELECT 3, 'DELETE', CAST(n1 + ins - dropm - rowdel AS BIGINT) FROM c
        UNION ALL
        SELECT 4, 'OPTIMIZE', CAST(n1 + ins - dropm - rowdel AS BIGINT)
        FROM c
        UNION ALL
        SELECT 5, 'RESTORE', CAST(n1 + ins AS BIGINT) FROM c""",
}

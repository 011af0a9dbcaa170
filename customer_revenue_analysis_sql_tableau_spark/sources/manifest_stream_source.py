"""The manifested table as a STREAMING SOURCE (Spark 4 Python
DataSource API) — the other half of the streaming story: the
exactly-once sinks write INTO the table; this module lets Structured
Streaming read FROM it, the Delta ``readStream``-on-a-table contract.

``format("manifest_table_stream")`` tails the commit chain: the offset
is ``{"version": N}`` (last commit consumed), ``latestOffset`` resolves
the head from directory names (O(1), no JSON parse per commit), and
``partitions(start, end)`` emits ONE input partition PER FILE each
commit in the range ADDED — so the read itself is executor-parallel
(``read`` runs on executors over Arrow), never a driver funnel, and a
micro-batch's I/O is ∝ the commits it consumes, never a table scan.
Append commits stream their rows exactly once; a commit that also
REMOVES files (UPSERT/DELETE/OPTIMIZE rewrites) makes
``partitions()`` raise — like Delta's ``readStream``, the
append-only contract is enforced, because re-landed carried rows
would otherwise re-emit as duplicates (``ignore_changes=true`` opts
back into streaming the added files anyway). For tables that
UPDATE, ``format("manifest_table_cdf_stream")`` streams classified
CHANGE rows instead (Delta's streaming ``readChangeFeed``),
partitioned by key-range overlap components of each commit's
removed/added file sets.

Exactly-once: the offset lives in the STREAM's checkpoint (Spark's
contract), so a restart resumes at the committed version and a commit
landed between drains is picked up incrementally — pinned in
tests/test_manifest_stream_source.py by draining, appending v5, and
re-draining against the same checkpoint.

Reference parity note: the reference (customer-revenue-analysis-sql-
tableau, a MySQL dump + Tableau workbook) has no streaming surface;
this module belongs to the driver's large-scale-pipeline mandate.
"""

from __future__ import annotations

import os
from collections.abc import Iterator, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

from ..session import drain
from .parquet import MONTH_COL

#: The source's fixed schema: the append-table delivery columns + the
#: hive partition value (injected from the file path, since data files
#: store only the data columns).
STREAM_SOURCE_SCHEMA = (
    "o_orderkey bigint, o_custkey bigint, o_totalprice double,"
    f" o_orderdate timestamp, {MONTH_COL} string"
)
_DATA_COLS = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"]


class _AddedFilePartition(InputPartition):
    """One ADDED file of one commit — the unit of executor-parallel
    streaming read."""

    def __init__(self, path: str, month: str) -> None:
        self.path = path
        self.month = month


class ManifestTableStreamReader(DataSourceStreamReader):
    """Commit-chain tail: offsets are manifest versions; batches are
    the files those commits added."""

    def __init__(self, options: dict) -> None:
        self.root = options["root"]
        self.base = self.root.removeprefix("file:")
        self.start_version = int(options.get("start_version", "1"))
        self.ignore_changes = (
            options.get("ignore_changes", "false").lower() == "true"
        )

    # offset bookkeeping ------------------------------------------------
    def initialOffset(self) -> dict:
        return {"version": self.start_version}

    def latestOffset(self) -> dict:
        from .manifest_table import manifest_versions

        versions = manifest_versions(self.root)
        if not versions:
            raise ValueError(f"no manifest chain at {self.root}")
        return {"version": versions[-1]}

    # planning ----------------------------------------------------------
    def partitions(
        self, start: dict, end: dict
    ) -> Sequence[InputPartition]:
        from .manifest_table import incremental_files

        out: list[InputPartition] = []
        for v in range(start["version"] + 1, end["version"] + 1):
            added, removed = incremental_files(self.root, v - 1, v)
            if removed and not self.ignore_changes:
                # the row source's append-only contract is ENFORCED,
                # not just documented: an update/delete/
                # OPTIMIZE commit re-lands carried rows in new files,
                # which this source would re-emit as duplicates. Fail
                # loudly like Delta's readStream on a non-append
                # commit; tables that update stream their CHANGES via
                # format("manifest_table_cdf_stream") instead.
                raise ValueError(
                    f"manifest_table_stream: commit v{v} at {self.root}"
                    f" removed {len(removed)} file(s) — not append-only."
                    " Use format('manifest_table_cdf_stream') for"
                    " updating tables, or set ignore_changes=true to"
                    " stream added files anyway (may duplicate rows)."
                )
            for rel in added:
                month = rel.split("/", 1)[0].split("=", 1)[1]
                out.append(
                    _AddedFilePartition(
                        os.path.join(self.base, rel), month
                    )
                )
        # Spark requires >=1 partition per batch; an empty range (only
        # head-carry commits) streams zero rows through one no-op split
        return out or [_AddedFilePartition("", "")]

    # executor-side read ------------------------------------------------
    def read(self, partition: _AddedFilePartition) -> Iterator[tuple]:
        if not partition.path:
            return iter(())
        import pyarrow.parquet as pq

        tbl = pq.read_table(partition.path, columns=_DATA_COLS)
        rows = tbl.to_pylist()
        return iter(
            [
                tuple(r[c] for c in _DATA_COLS) + (partition.month,)
                for r in rows
            ]
        )

    def commit(self, end: dict) -> None:
        pass  # manifests are immutable; the checkpoint owns progress


#: The CDF stream's schema: the merge universe's data columns + month
#: + change metadata.
CDF_STREAM_SCHEMA = (
    "o_orderkey bigint, o_custkey bigint, o_totalprice double,"
    f" o_orderdate timestamp, {MONTH_COL} string,"
    " _change_type string, _commit_version int"
)


class _CommitPartition(InputPartition):
    """One KEY-RANGE OVERLAP COMPONENT of one commit's removed/added
    file sets — the unit of parallel change classification. Pre/post
    rows for one key must meet to classify, and any file holding key k
    has k inside its footer [min, max], so files whose key ranges
    overlap transitively form the smallest groups that are safe to
    classify independently (correct by construction: a key's pre-image
    file and post-image file always overlap at k, hence share a
    component)."""

    def __init__(
        self, version: int, added: list[str], removed: list[str]
    ) -> None:
        self.version = version
        self.added = added
        self.removed = removed


def _key_range(path: str, key: str):
    """Footer [min, max] of ``key`` for one parquet file — a driver
    metadata read (KBs), never a data scan. Returns ``"empty"`` for a
    zero-row file, ``None`` when the footer has no usable stats (the
    conservative can't-split signal)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    if md.num_rows == 0:
        return "empty"
    lo = hi = None
    for rg in range(md.num_row_groups):
        rgm = md.row_group(rg)
        for ci in range(rgm.num_columns):
            col = rgm.column(ci)
            if col.path_in_schema == key:
                st = col.statistics
                if st is None or not st.has_min_max:
                    return None
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
    return None if lo is None else (lo, hi)


def _overlap_components(
    base: str, added: list[str], removed: list[str], key: str
) -> list[tuple[list[str], list[str]]]:
    """Split one commit's (added, removed) file sets into key-range
    overlap components via a sort-and-sweep over footer intervals —
    planning cost ∝ the commit's file delta. Any file without key
    stats collapses the commit to ONE component (correctness over
    parallelism); zero-row files are their own singletons (no keys,
    so grouping cannot matter)."""
    if not removed:
        # pure APPEND: every post-image key is an insert — no pre/post
        # meeting needed, so each added file classifies alone (full
        # per-file parallelism, no footer reads at planning)
        return [([rel], []) for rel in added]
    if not added:
        # pure partition DELETE (metadata month drop): every pre-image
        # key is a delete — same per-file independence
        return [([], [rel]) for rel in removed]
    tagged = [(rel, True) for rel in added] + [
        (rel, False) for rel in removed
    ]
    ranged: list[tuple] = []
    empties: list[tuple[str, bool]] = []
    for rel, is_add in tagged:
        r = _key_range(os.path.join(base, rel), key)
        if r == "empty":
            empties.append((rel, is_add))
        elif r is None:
            return [(list(added), list(removed))]
        else:
            ranged.append((r[0], r[1], rel, is_add))
    ranged.sort(key=lambda t: (t[0], t[1]))
    comps: list[list[tuple[str, bool]]] = []
    cur: list[tuple[str, bool]] = []
    cur_hi = None
    for lo, hi, rel, is_add in ranged:
        if cur and lo <= cur_hi:
            cur.append((rel, is_add))
            cur_hi = max(cur_hi, hi)
        else:
            if cur:
                comps.append(cur)
            cur, cur_hi = [(rel, is_add)], hi
    if cur:
        comps.append(cur)
    comps.extend([e] for e in empties)
    return [
        (
            [rel for rel, is_add in comp if is_add],
            [rel for rel, is_add in comp if not is_add],
        )
        for comp in comps
    ]


class ManifestTableCDFStreamReader(DataSourceStreamReader):
    """STREAMING CHANGE DATA FEED: where the row-stream source handles
    append-only tables, this one tails ANY commit chain and emits
    classified change rows (insert / delete / update_pre/postimage) —
    Delta's ``readChangeFeed`` streaming contract. Offsets are manifest
    versions; each micro-batch's partitions are the KEY-RANGE OVERLAP
    COMPONENTS of the commits it consumes (``_overlap_components`` —
    a big commit with disjoint file pairs classifies in parallel);
    classification runs executor-side in Arrow over the
    component's removed (pre-image) and added (post-image) files, keyed
    on ``key`` (default ``o_orderkey``), identical semantics to the
    batch ``manifest_table.changes_for_commit`` (carried CoW neighbors
    drop out, so OPTIMIZE commits stream nothing)."""

    def __init__(self, options: dict) -> None:
        self.root = options["root"]
        self.base = self.root.removeprefix("file:")
        self.start_version = int(options.get("start_version", "1"))
        self.key = options.get("key", "o_orderkey")

    def initialOffset(self) -> dict:
        return {"version": self.start_version}

    def latestOffset(self) -> dict:
        from .manifest_table import manifest_versions

        versions = manifest_versions(self.root)
        if not versions:
            raise ValueError(f"no manifest chain at {self.root}")
        return {"version": versions[-1]}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        from .manifest_table import incremental_files

        out: list[InputPartition] = []
        for v in range(start["version"] + 1, end["version"] + 1):
            added, removed = incremental_files(self.root, v - 1, v)
            if not (added or removed):
                continue
            # one partition per commit would classify a huge commit
            # single-threaded on one executor. Splitting by key-range
            # overlap components keeps pre/post for every key together
            # while letting disjoint file pairs classify on separate
            # executors.
            for grp_added, grp_removed in _overlap_components(
                self.base, added, removed, self.key
            ):
                out.append(_CommitPartition(v, grp_added, grp_removed))
        return out or [_CommitPartition(0, [], [])]

    def _rows_of(self, rels: list[str]) -> dict:
        """``{key: (row tuple incl. month, full-row hash key)}`` for
        the listed files — pyarrow reads, month from the path."""
        import pyarrow.parquet as pq

        out: dict = {}
        for rel in rels:
            month = rel.split("/", 1)[0].split("=", 1)[1]
            tbl = pq.read_table(
                os.path.join(self.base, rel), columns=_DATA_COLS
            )
            for r in tbl.to_pylist():
                row = tuple(r[c] for c in _DATA_COLS) + (month,)
                out[r[self.key]] = row
        return out

    def read(self, partition: _CommitPartition) -> Iterator[tuple]:
        if not partition.added and not partition.removed:
            return iter(())
        pre = self._rows_of(partition.removed)
        post = self._rows_of(partition.added)
        v = partition.version
        changes: list[tuple] = []
        for k, row in post.items():
            if k not in pre:
                changes.append(row + ("insert", v))
            elif pre[k] != row:
                changes.append(pre[k] + ("update_preimage", v))
                changes.append(row + ("update_postimage", v))
        for k, row in pre.items():
            if k not in post:
                changes.append(row + ("delete", v))
        return iter(changes)

    def commit(self, end: dict) -> None:
        pass


class ManifestTableCDFStreamDataSource(DataSource):
    """``format("manifest_table_cdf_stream")``."""

    @classmethod
    def name(cls) -> str:
        return "manifest_table_cdf_stream"

    def schema(self) -> str:
        return CDF_STREAM_SCHEMA

    def streamReader(self, schema) -> ManifestTableCDFStreamReader:
        return ManifestTableCDFStreamReader(dict(self.options))


class ManifestTableStreamDataSource(DataSource):
    """``format("manifest_table_stream")``."""

    @classmethod
    def name(cls) -> str:
        return "manifest_table_stream"

    def schema(self) -> str:
        return STREAM_SOURCE_SCHEMA

    def streamReader(self, schema) -> ManifestTableStreamReader:
        return ManifestTableStreamReader(dict(self.options))


def register_manifest_stream_source(spark: SparkSession) -> None:
    """Idempotent ``spark.dataSource.register`` of both formats."""
    spark.dataSource.register(ManifestTableStreamDataSource)
    spark.dataSource.register(ManifestTableCDFStreamDataSource)


def _drain_table_stream(
    spark: SparkSession, fmt: str, root: str, schema: str
) -> DataFrame:
    """Drain the ``fmt`` stream of the table at ``root`` into a temp
    parquet sink and return the sink (``part_month`` as ``pm``),
    localCheckpointed so the temp state can be deleted."""
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="manifest_srcstream_")
    try:
        stream = spark.readStream.format(fmt).option("root", root).load()
        sink = stream.writeStream.format("parquet").option("path", f"{tmp}/sink")
        drain((sink, f"{tmp}/ckpt"))
        out = spark.read.schema(schema).parquet(f"{tmp}/sink")
        return out.withColumnRenamed(MONTH_COL, "pm").localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def stream_manifest_source_drain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """READ THE TABLE AS A STREAM, end to end: the append universe's
    commit chain (empty v1 + three exactly-once appended batches) is
    drained through ``format("manifest_table_stream")`` into a parquet
    sink (drains recipe: temp sink + checkpoint, result
    localCheckpointed so the temp state can be deleted). The sink must
    hold the WHOLE delivery exactly once — a row-level oracle over all
    five columns, so a duplicated commit replay, a skipped commit, or
    a wrong month injection hash-fails. I/O posture: each micro-batch
    reads only its commits' added files, one executor partition per
    file."""
    from ..catalog import ensure_utc_session
    from .manifest_table import (
        _stream_append_root,
        stream_manifest_append_drain,
    )

    # the Python-source rows carry naive datetimes (parquet UTC wall
    # time); the session MUST be UTC when Spark converts them — pinned
    # here explicitly because a replay skips the load_tables path that
    # normally pins it (the hostile-driver-timezone contract)
    ensure_utc_session(spark)
    stream_manifest_append_drain(spark, sf_dir)  # ensure the universe
    root = _stream_append_root(spark, sf_dir)
    register_manifest_stream_source(spark)
    return _drain_table_stream(
        spark, "manifest_table_stream", root, STREAM_SOURCE_SCHEMA
    )


def stream_manifest_cdf_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM THE CHANGE FEED of the streaming-merge universe's whole
    commit chain — updates and all: three upsert commits stream out as
    classified change rows (batch-0 inserts; two rounds of mod-0
    update pre/post pairs; mod-1/mod-2 inserts), carried CoW neighbors
    absent. Row-level oracle: DuckDB recomputes every change row of
    every commit from the upsert schedule's semantics — a
    misclassified, duplicated, lost, or mispriced change anywhere in
    the chain hash-fails. The table streams out under UPDATES, not
    just appends, which the append-only row source refuses."""
    from ..catalog import ensure_utc_session
    from .manifest_table import (
        _stream_merge_root,
        stream_manifest_merge_drain,
    )

    ensure_utc_session(spark)
    stream_manifest_merge_drain(spark, sf_dir)  # ensure the universe
    root = _stream_merge_root(spark, sf_dir)
    register_manifest_stream_source(spark)
    return _drain_table_stream(
        spark, "manifest_table_cdf_stream", root, CDF_STREAM_SCHEMA
    )


QUERIES = {
    "stream_manifest_source_drain": stream_manifest_source_drain,
    "stream_manifest_cdf_drain": stream_manifest_cdf_drain,
}

ORACLES = {
    # the streamed-out table must be the whole delivery exactly once,
    # months injected from the partition paths — row-level over all
    # five columns
    "stream_manifest_source_drain": """
        SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate,
               strftime(o_orderdate, '%Y-%m') AS pm
        FROM orders""",
    # the streamed CDF of the 3-commit upsert chain, row-level: batch 0
    # inserts mod-0 at base price (commit 2); batch 1 updates mod-0 to
    # base+250 and inserts mod-1 at base+250 (commit 3); batch 2
    # updates mod-0 to base+500 and inserts mod-2 at base+500
    # (commit 4) — mod-1 rows carried unchanged through commit 4's CoW
    # rewrite must NOT appear
    "stream_manifest_cdf_drain": """
        WITH base AS (
            SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate,
                   strftime(o_orderdate, '%Y-%m') AS pm,
                   o_orderkey % 3 AS m
            FROM orders
        )
        SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate, pm,
               'insert' AS _change_type, 2 AS _commit_version
        FROM base WHERE m = 0
        UNION ALL
        SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate, pm,
               'update_preimage', 3 FROM base WHERE m = 0
        UNION ALL
        SELECT o_orderkey, o_custkey, o_totalprice + 250.0, o_orderdate,
               pm, 'update_postimage', 3 FROM base WHERE m = 0
        UNION ALL
        SELECT o_orderkey, o_custkey, o_totalprice + 250.0, o_orderdate,
               pm, 'insert', 3 FROM base WHERE m = 1
        UNION ALL
        SELECT o_orderkey, o_custkey, o_totalprice + 250.0, o_orderdate,
               pm, 'update_preimage', 4 FROM base WHERE m = 0
        UNION ALL
        SELECT o_orderkey, o_custkey, o_totalprice + 500.0, o_orderdate,
               pm, 'update_postimage', 4 FROM base WHERE m = 0
        UNION ALL
        SELECT o_orderkey, o_custkey, o_totalprice + 500.0, o_orderdate,
               pm, 'insert', 4 FROM base WHERE m = 2""",
}

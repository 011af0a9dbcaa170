"""ManifestTable facade (r14): the declarative verb surface over the
manifest-committed table — every mutation one conflict-checked commit,
history as DESCRIBE HISTORY, time travel / CDF / incremental as reads.
"""

from __future__ import annotations

import datetime
import os

import pytest
from pyspark.sql import functions as F

from customer_revenue_analysis_sql_tableau_spark.lake_core import content_digest
from customer_revenue_analysis_sql_tableau_spark.sources import manifest_table as mt
from customer_revenue_analysis_sql_tableau_spark.sources.parquet import MONTH_COL
from customer_revenue_analysis_sql_tableau_spark.sources.table_api import (
    ManifestTable,
    parquet_manifest_history,
    _api_root,
)


@pytest.fixture()
def table(spark, tmp_path):
    """A small 3-month table created through the API."""
    df = spark.range(300).select(
        F.col("id").alias("k"),
        (F.col("id") * 3).cast("double").alias("v"),
        F.to_timestamp(
            F.concat(
                F.lit("2001-0"),
                (F.col("id") % 3 + 1).cast("string"),
                F.lit("-15"),
            )
        ).alias("ts"),
    )
    t = ManifestTable.create(spark, df, str(tmp_path / "tbl"), date_col="ts")
    return t


def _dig(t, version=None):
    return content_digest(t.read(version), ("k", "v", MONTH_COL))


def test_api_lifecycle_and_history(spark, table):
    t = table
    assert t.version() == 1
    d1 = _dig(t)
    # UPSERT: update k%5==0 (v doubled), insert k+1000 twins
    hit = t.read(1).filter(F.col("k") % 5 == 0)
    src = hit.withColumn("v", F.col("v") * 2).unionByName(
        hit.withColumn("k", F.col("k") + 1000)
    )
    t.upsert(src, key="k")
    assert t.version() == 2
    assert t.read().count() == 300 + 60
    # updated rows carry the new image exactly once
    upd = t.read().filter((F.col("k") % 5 == 0) & (F.col("k") < 1000))
    assert upd.count() == 60
    assert upd.filter(F.col("v") != F.col("k") * 6).count() == 0
    # DELETE: drop 2001-02 as metadata, k%7==3 elsewhere as CoW
    t.delete_where(months=["2001-02"], predicate=F.col("k") % 7 == 3)
    assert t.version() == 3
    head = t.read()
    assert head.filter(F.col(MONTH_COL) == "2001-02").count() == 0
    assert head.filter(
        (F.col("k") % 7 == 3) & (F.col(MONTH_COL) != "2001-02")
    ).count() == 0
    n3 = head.count()
    # OPTIMIZE: pack the surviving months; content unchanged
    months = sorted(mt.manifest_chain(t.root)[3]["files"])
    d_pre = _dig(t)
    t.optimize(months)
    assert t.version() == 4 and _dig(t) == d_pre
    assert t.read().count() == n3
    # history: operations tagged, file tallies consistent
    hist = {r["version"]: r for r in t.history().collect()}
    assert [hist[v]["operation"] for v in (1, 2, 3, 4)] == [
        "CREATE", "UPSERT", "DELETE", "OPTIMIZE",
    ]
    assert hist[1]["n_removed_files"] == 0
    assert hist[3]["n_removed_files"] > 0  # the drop + rewrite
    assert hist[4]["n_added_files"] > 0 and hist[4]["n_removed_files"] > 0
    # time travel: v1 still serves the original content
    assert _dig(t, 1) == d1
    # vacuum to head; head unchanged, old versions expire
    deleted, expired = t.vacuum(grace_seconds=0)
    assert expired == [1, 2, 3] and len(deleted) > 0
    assert _dig(t) == d_pre


def _partition_listing(t):
    return {
        d: sorted(os.listdir(os.path.join(t.base, d)))
        for d in sorted(os.listdir(t.base))
        if d.startswith(f"{MONTH_COL}=")
    }


def test_api_upsert_requires_partition_column(spark, table):
    """The source is validated before any file is written: key 1
    matches a row, yet a rejected call lands no rewrite and leaves no
    staging behind."""
    before = _partition_listing(table)
    src = spark.createDataFrame([(1, 2.0)], "k bigint, v double")
    with pytest.raises(ValueError, match=MONTH_COL):
        table.upsert(src, key="k")
    assert _partition_listing(table) == before
    stages = os.path.join(table.base, "_pack_tmp")
    assert not os.path.isdir(stages) or os.listdir(stages) == []


def test_api_stale_writer_conflicts_through_facade(spark, table):
    """Two facade writers from the same snapshot: a commuting append-
    style upsert (disjoint keys, no matched files) rebases; an
    overlapping rewrite aborts — the facade inherits
    commit_transaction's classification."""
    t = table
    # writer A: delete a month (removes its files)
    t.delete_where(months=["2001-01"])
    # writer B prepared against v1: optimize the SAME month — its
    # removed set was already dropped by A
    v1 = mt.manifest_chain(t.root)[1]
    packed = mt.pack_partition_files(
        spark, t.root, "2001-01", v1["files"]["2001-01"], 99
    )
    with pytest.raises(mt.CommitConflictError):
        mt.commit_transaction(
            t.root, 1,
            {"2001-01": v1["files"]["2001-01"]},
            {"2001-01": packed},
            extra={"operation": "OPTIMIZE"},
        )


def test_history_entry_torn_run_resumes(spark, sf_dir, tmp_path, monkeypatch):
    """Rip the commit SUFFIX (v3..v5 — a crash mid-lifecycle) off a
    completed run: replay must re-run delete + optimize + restore and
    converge to the same history."""
    import shutil
    from customer_revenue_analysis_sql_tableau_spark.sources import table_api

    first = parquet_manifest_history(spark, sf_dir).collect()
    shared = _api_root(spark, sf_dir).removeprefix("file:")
    clone = str(tmp_path / "api_clone")
    shutil.copytree(shared, clone)
    monkeypatch.setattr(table_api, "_api_root", lambda s_, sf_: clone)
    for v in (3, 4, 5):
        os.remove(os.path.join(mt._mdir(clone), f"manifest_v{v}"))
    replay = parquet_manifest_history(spark, sf_dir).collect()
    assert [tuple(r) for r in replay] == [tuple(r) for r in first]


def test_api_restore_undoes_a_delete(spark, table):
    t = table
    d1 = _dig(t)
    t.delete_where(months=["2001-01"])  # v2
    assert t.read().count() == 200
    t.restore(1)  # v3: zero data I/O, files re-referenced
    assert t.version() == 3
    assert _dig(t) == d1
    hist = {r["version"]: r["operation"] for r in t.history().collect()}
    assert hist[3] == "RESTORE"
    # the restored head survives a head-only vacuum (files are live)
    deleted, expired = t.vacuum(grace_seconds=0)
    assert expired == [1, 2]
    assert _dig(t) == d1


def test_delete_where_null_predicate_keeps_rows(spark, tmp_path):
    """SQL DELETE semantics: a predicate that evaluates to NULL must
    KEEP the row (delete only where TRUE) — r14 ADVICE: the three-
    valued ~p filter silently dropped NULL-predicate rows in every
    CoW-rewritten file."""
    df = spark.range(300).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 7 == 0, F.lit(None))
        .otherwise(F.col("id") * 3)
        .cast("double")
        .alias("v"),
        F.to_timestamp(
            F.concat(
                F.lit("2001-0"),
                (F.col("id") % 3 + 1).cast("string"),
                F.lit("-15"),
            )
        ).alias("ts"),
    )
    t = ManifestTable.create(spark, df, str(tmp_path / "nulltbl"), date_col="ts")
    n_null = df.filter(F.col("v").isNull()).count()
    n_keep_nonnull = df.filter(F.col("v") <= 100).count()
    assert n_null > 0
    t.delete_where(predicate=F.col("v") > 100)
    out = t.read()
    # every NULL-v row survives, every v>100 row is gone
    assert out.filter(F.col("v").isNull()).count() == n_null
    assert out.filter(F.col("v") > 100).count() == 0
    assert out.count() == n_null + n_keep_nonnull


def test_mutations_preserve_schema_pin_and_stats(spark, table):
    """commit_transaction carries head metadata forward (r14 ADVICE):
    a pinned schema survives every facade mutation, and per-file stats
    survive pruned to the files the commit keeps."""
    t = table
    pinned = "k bigint, v double, ts timestamp"
    head = mt.manifest_chain(t.root)[1]
    stats = {
        m: {n: {"k": [0, 299]} for n in ns}
        for m, ns in head["files"].items()
    }
    mt.commit_manifest(
        t.root,
        {
            "version": 2,
            "files": head["files"],
            "schema": pinned,
            "stats": stats,
            "operation": "SET_METADATA",
        },
    )
    t.delete_where(months=["2001-01"])  # v3
    t.optimize(["2001-02"])  # v4
    for v in (3, 4):
        snap = mt.resolve_manifest(t.root, v)
        assert snap["schema"] == pinned, f"v{v} lost the schema pin"
        # stats survive exactly for still-live original files
        live = {
            (m, n)
            for m, ns in snap["files"].items()
            for n in ns
            if (m, n) in {
                (m2, n2)
                for m2, ns2 in head["files"].items()
                for n2 in ns2
            }
        }
        carried = {
            (m, n)
            for m, per in snap.get("stats", {}).items()
            for n in per
        }
        assert carried == live, f"v{v} stats not pruned to live files"
    # an explicit override still wins
    p2, _ = mt.commit_transaction(
        t.root, 4, {}, {}, extra={"schema": "k bigint, v double, ts timestamp, extra int", "operation": "EVOLVE"}
    )
    assert p2["schema"].endswith("extra int")


def test_writer_staging_is_private(spark, table):
    """Per-writer staging: a mutation must not rm -rf the shared
    _pack_tmp dir or any path another writer can derive — another
    writer's in-flight staging survives, and the writer's own staging
    is cleaned up. ``_pack_tmp/part_month=<m>`` is where a second
    writer optimizing the same month from the same snapshot would
    stage if staging paths were derived from the month."""
    t = table
    m = "2001-01"
    foreign = [
        os.path.join(t.base, "_pack_tmp", d, "f.parquet")
        for d in ("other-writer", f"{MONTH_COL}={m}")
    ]
    for f in foreign:
        os.makedirs(os.path.dirname(f), exist_ok=True)
        with open(f, "w") as fh:
            fh.write("in-flight")
    src = t.read().filter(F.col("k") % 50 == 0).withColumn(
        "v", F.col("v") + 1.0
    )
    t.upsert(src, key="k")
    t.delete_where(predicate=F.col("k") % 77 == 3)
    t.optimize([m])
    t.optimize([m], zorder_by=("k", "v"))
    for f in foreign:
        assert os.path.exists(f), f"foreign staging was destroyed: {f}"
    leftovers = [
        d
        for d in os.listdir(os.path.join(t.base, "_pack_tmp"))
        if d not in ("other-writer", f"{MONTH_COL}={m}")
    ]
    assert leftovers == [], f"writer left staging behind: {leftovers}"

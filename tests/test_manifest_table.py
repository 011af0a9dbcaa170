"""Manifest-committed compaction (r13): reader-ATOMIC swap.

The in-place pass (test_compaction.py) is torn-RUN-safe; this module
pins the stronger guarantee the versioned-manifest commit buys: a
concurrent reader interleaved at EVERY phase of the swap resolves a
complete committed version — pre-swap or post-swap, never the window.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from customer_revenue_analysis_sql_tableau_spark.lake_core import content_digest
from customer_revenue_analysis_sql_tableau_spark.sources import manifest_table as mt
from customer_revenue_analysis_sql_tableau_spark.sources.parquet import MONTH_COL


@pytest.fixture(scope="module")
def summary(spark, sf_dir):
    return mt.parquet_compact_manifest_atomic(spark, sf_dir).collect()[0]


def test_entry_invariants(summary, spark, sf_dir):
    from customer_revenue_analysis_sql_tableau_spark.catalog import load_tables

    orders = load_tables(spark, sf_dir, names=("orders",))["orders"]
    assert summary["n_rows"] == orders.count()
    assert summary["swap_atomic_both_versions_identical"] is True
    assert summary["selected_packed"] is True
    assert summary["unselected_untouched"] is True
    assert summary["post_vacuum_digest_unchanged"] is True
    assert summary["pinned_v1_fails"] is True
    assert summary["n_selected"] > 0


def test_entry_idempotent(summary, spark, sf_dir):
    row = mt.parquet_compact_manifest_atomic(spark, sf_dir).collect()[0]
    assert tuple(row) == tuple(summary)


@pytest.fixture()
def staged(spark, tmp_path):
    """A small 3-month manifested table with fragmented partitions."""
    root = str(tmp_path / "tbl")
    df = spark.range(600).select(
        F.col("id").alias("k"),
        (F.col("id") * 7).alias("v"),
        F.concat(
            F.lit("2001-0"), (F.col("id") % 3 + 1).cast("string")
        ).alias(MONTH_COL),
    )
    df.repartition(5).write.partitionBy(MONTH_COL).parquet(root)
    mt.init_manifest(root)
    d = content_digest(
        mt.read_manifested(spark, root), ("k", "v", MONTH_COL)
    )
    return root, d


def _digest(spark, root, version=None):
    return content_digest(
        mt.read_manifested(spark, root, version), ("k", "v", MONTH_COL)
    )


def test_reader_never_observes_torn_state(spark, staged):
    """Interleave a resolving reader at every phase of the swap: after
    each single partition's pack (files landed, nothing committed),
    after the manifest commit, and after the vacuum — the resolved
    digest must equal the original at every step, and the pinned
    old-version reader must stay correct until vacuum."""
    root, d0 = staged
    chain = mt.manifest_chain(root)
    months = sorted(chain[1]["files"])
    packed = {}
    for m in months:  # phase 1, one partition at a time
        packed[m] = mt.pack_partition_files(
            spark, root, m, chain[1]["files"][m], 2
        )
        # a reader between packs resolves v1 and sees the OLD files
        assert _digest(spark, root) == d0
    # phase 2: the commit point — one atomic rename
    mt.commit_manifest(root, {"version": 2, "files": packed})
    assert _digest(spark, root) == d0  # resolves v2, new files
    assert _digest(spark, root, 1) == d0  # pinned reader still correct
    # phase 3: vacuum — old fragments + expired manifest gone
    deleted, expired = mt.vacuum_manifested(root)
    assert _digest(spark, root) == d0
    assert expired == [1] and len(deleted) > 0
    with pytest.raises(ValueError, match="not in chain"):
        mt.read_manifested(spark, root, 1)


def test_commit_refuses_overwrite(spark, staged):
    root, _d0 = staged
    chain = mt.manifest_chain(root)
    with pytest.raises(FileExistsError):
        mt.commit_manifest(root, {"version": 1, "files": chain[1]["files"]})


def test_resolver_ignores_inflight_tmp_manifests(spark, staged):
    """A crash mid-commit leaves only a ``.tmp.<pid>`` file — the
    resolver must not read it as a version."""
    root, d0 = staged
    mdir = mt._mdir(root)
    with open(os.path.join(mdir, "manifest_v2.tmp.999"), "w") as fh:
        fh.write('{"version": 2, "files"')  # truncated garbage
    assert sorted(mt.manifest_chain(root)) == [1]
    assert _digest(spark, root) == d0


def test_orphans_invisible_and_vacuumed(spark, staged):
    """Files a torn pack left (never referenced by any manifest) must
    be invisible to every reader, SURVIVE a default-grace vacuum (they
    are indistinguishable from a live writer's in-flight landing — the
    r13 ADVICE age gate), and be collected once the grace is waived."""
    root, d0 = staged
    chain = mt.manifest_chain(root)
    m = sorted(chain[1]["files"])[0]
    mt.pack_partition_files(spark, root, m, chain[1]["files"][m], 2)
    # no commit — the "torn run". Reader unaffected:
    assert _digest(spark, root) == d0
    # default grace: the young orphans are spared (in-flight writer?)
    deleted, expired = mt.vacuum_manifested(root)
    assert deleted == [] and expired == []
    # grace waived (deterministic torn-run cleanup): collected
    deleted, expired = mt.vacuum_manifested(root, grace_seconds=0)
    assert expired == []
    assert all(rel.split("/")[1].startswith("v2-") for rel in deleted)
    assert len(deleted) > 0
    assert _digest(spark, root) == d0


def test_vacuum_reclaims_abandoned_stages(tmp_path):
    """A writer torn between its staged write and its cleanup leaves a
    ``_pack_tmp/<token>`` behind: vacuum removes it once nothing under
    it changed within the orphan grace window, and spares a fresh
    stage (a live writer's). Driver metadata only — no Spark job."""
    root = str(tmp_path / "tbl")
    os.makedirs(root)
    mt.init_manifest(root)
    stages = os.path.join(root, "_pack_tmp")
    old = os.path.join(stages, "torn", f"{MONTH_COL}=2001-01")
    fresh = os.path.join(stages, "live")
    for d in (old, fresh):
        os.makedirs(d)
        with open(os.path.join(d, "part-0.parquet"), "w") as fh:
            fh.write("staged")
    grace = 3600.0
    past = os.path.getmtime(old) - 2 * grace
    for d, subdirs, files in os.walk(os.path.join(stages, "torn")):
        for p in [d] + [os.path.join(d, n) for n in subdirs + files]:
            os.utime(p, (past, past))
    assert mt.vacuum_manifested(root, grace_seconds=grace) == ([], [])
    assert sorted(os.listdir(stages)) == ["live"]
    assert os.listdir(fresh) == ["part-0.parquet"]


def test_manifested_read_keeps_partition_pruning(spark, staged):
    """The explicit-file-list read with basePath must keep the hive
    partition column prunable — a month filter reads one partition."""
    root, _d0 = staged
    df = mt.read_manifested(spark, root).filter(
        F.col(MONTH_COL) == "2001-01"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "2001-01" in plan
    assert df.count() == 200


def test_racing_writers_one_commit_wins(spark, staged):
    """Two compactions racing to the same target version: both pack
    (their files coexist under never-referenced names), exactly one
    commit wins the create-exclusive rename, the loser re-resolves and
    commits the NEXT version on top of the winner's — and every
    committed version serves the original content."""
    root, d0 = staged
    chain = mt.manifest_chain(root)
    months = sorted(chain[1]["files"])

    # writer A and writer B both pack for v2 (different month subsets —
    # a realistic split maintenance schedule)
    a_months, b_months = months[:1], months[1:]
    a_packed = {
        m: mt.pack_partition_files(spark, root, m, chain[1]["files"][m], 2)
        for m in a_months
    }
    b_packed = {
        m: mt.pack_partition_files(spark, root, m, chain[1]["files"][m], 2)
        for m in b_months
    }
    # A commits v2 first
    mt.commit_manifest(
        root,
        {"version": 2, "files": {**chain[1]["files"], **a_packed}},
    )
    # B's v2 commit must LOSE loudly, never clobber
    with pytest.raises(FileExistsError):
        mt.commit_manifest(
            root,
            {"version": 2, "files": {**chain[1]["files"], **b_packed}},
        )
    # B re-resolves the new head and commits v3 on top of it
    head = mt.manifest_chain(root)[2]
    mt.commit_manifest(
        root, {"version": 3, "files": {**head["files"], **b_packed}}
    )
    for v in (1, 2, 3):
        assert _digest(spark, root, v) == d0
    # vacuum to the head keeps exactly the v3 files
    deleted, expired = mt.vacuum_manifested(root)
    assert expired == [1, 2]
    assert _digest(spark, root) == d0


def test_manifest_vacuum_retention_window(spark, staged):
    """``vacuum_manifested(retain=2)`` must keep BOTH retained
    versions' files servable (the windowed-retention contract the
    segment store pins in depth) and expire nothing still referenced."""
    root, d0 = staged
    chain = mt.manifest_chain(root)
    months = sorted(chain[1]["files"])
    packed = {
        m: mt.pack_partition_files(spark, root, m, chain[1]["files"][m], 2)
        for m in months
    }
    mt.commit_manifest(root, {"version": 2, "files": packed})
    deleted, expired = mt.vacuum_manifested(root, retain=2)
    assert deleted == [] and expired == []
    assert _digest(spark, root, 1) == d0
    assert _digest(spark, root, 2) == d0
    # narrowing to head-only NOW collects v1's files and expires v1
    deleted, expired = mt.vacuum_manifested(root, retain=1)
    assert expired == [1] and len(deleted) > 0
    assert _digest(spark, root) == d0


def test_incremental_read_scans_only_added_files(spark, sf_dir):
    """The I/O claim itself: the incremental scan's input files are
    EXACTLY the files the newer manifest added — change consumption
    costs the delta, never a table scan."""
    mt.parquet_manifest_incremental_read(spark, sf_dir).collect()
    root = mt._incr_root(spark, sf_dir)
    added, removed = mt.incremental_files(root, 1, 2)
    assert added and removed == []
    df = mt.read_manifested_incremental(spark, root, 1, 2)

    def norm(p):  # file:///x, file:/x, /x -> /x
        return "/" + p.removeprefix("file:").lstrip("/")

    got = {norm(f) for f in df.inputFiles()}
    want = {norm(f"{root}/{rel}") for rel in added}
    assert got == want
    # and the rows are exactly head minus v1 (set algebra on disk)
    n_head = mt.read_manifested(spark, root, 2).count()
    n_v1 = mt.read_manifested(spark, root, 1).count()
    assert df.count() == n_head - n_v1 > 0


def test_incremental_diff_of_rewrite_is_empty(spark, staged):
    """A content-neutral rewrite (compaction commit) adds and removes
    files but its row-level incremental diff must be the empty
    multiset: rows(added) minus rows(removed) cancel exactly."""
    root, _d0 = staged
    chain = mt.manifest_chain(root)
    months = sorted(chain[1]["files"])
    packed = {
        m: mt.pack_partition_files(spark, root, m, chain[1]["files"][m], 2)
        for m in months
    }
    mt.commit_manifest(root, {"version": 2, "files": packed})
    added, removed = mt.incremental_files(root, 1, 2)
    assert added and removed
    a = spark.read.option("basePath", root).parquet(
        *[f"{root}/{r}" for r in added]
    )
    b = spark.read.option("basePath", root).parquet(
        *[f"{root}/{r}" for r in removed]
    )
    cols = a.columns
    diff = (
        a.groupBy(cols).count().withColumnRenamed("count", "na")
        .join(b.groupBy(cols).count().withColumnRenamed("count", "nb"),
              cols, "full")
        .filter("na IS DISTINCT FROM nb")
    )
    assert diff.count() == 0


def test_incremental_unknown_version_raises(spark, staged):
    root, _d0 = staged
    with pytest.raises(ValueError, match="not in chain"):
        mt.incremental_files(root, 1, 9)


def test_stream_append_drain_summary_and_idempotence(spark, sf_dir):
    row = mt.stream_manifest_append_drain(spark, sf_dir).collect()[0]
    from customer_revenue_analysis_sql_tableau_spark.catalog import load_tables

    orders = load_tables(spark, sf_dir, names=("orders",))["orders"]
    assert row["n_rows"] == orders.count()
    assert row["n_commits"] == mt.STREAM_APPEND_BATCHES
    assert row["increments_match_batches"] is True
    assert row["increments_partition_head"] is True
    # a second call must not re-run the stream or add files
    root = mt._stream_append_root(spark, sf_dir).removeprefix("file:")
    n_files = sum(
        len(fs) for _r, _d, fs in os.walk(root) if True
    )
    again = mt.stream_manifest_append_drain(spark, sf_dir).collect()[0]
    assert tuple(again) == tuple(row)
    assert (
        sum(len(fs) for _r, _d, fs in os.walk(root)) == n_files
    )


def test_stream_append_torn_commit_replays_exactly_once(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Rip the LAST commit off a completed stream (a crash between a
    batch's file moves and its commit): re-entry must re-publish
    exactly that batch — earlier batches' existing manifests make
    their replays no-ops — and the head must hold the delivery exactly
    once, the torn batch's first-run files left as unreferenced
    orphans that vacuum collects without changing the head. Runs on a
    CLONE of the shared universe: the vacuum at the end destroys the
    v1..v4 history the registered entry's verification needs."""
    import shutil

    first = mt.stream_manifest_append_drain(spark, sf_dir).collect()[0]
    shared = mt._stream_append_root(spark, sf_dir).removeprefix("file:")
    clone = str(tmp_path / "stream_clone")
    shutil.copytree(shared, clone)
    monkeypatch.setattr(
        mt, "_stream_append_root", lambda s_, sf_: clone
    )
    root = clone
    last_v = mt.STREAM_APPEND_BATCHES + 1
    os.remove(os.path.join(mt._mdir(root), f"manifest_v{last_v}"))
    replay = mt.stream_manifest_append_drain(spark, sf_dir).collect()[0]
    assert tuple(replay) == tuple(first)  # exactly-once: no double rows
    # the torn run's originals are now orphans; vacuum collects them
    # and the head digest is unchanged
    pre = content_digest(
        mt.read_manifested(spark, root),
        ("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"),
    )
    deleted, _expired = mt.vacuum_manifested(root, grace_seconds=0)
    assert len(deleted) > 0  # the orphaned first-run b2- files
    assert (
        content_digest(
            mt.read_manifested(spark, root),
            ("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"),
        )
        == pre
    )


def test_stream_append_stale_chain_rebuilds(spark, sf_dir, tmp_path, monkeypatch):
    """A universe someone vacuumed to its head (non-prefix chain) must
    be rebuilt from scratch, not spliced under the old head — the bug
    class: batch-id commits resumed over expired history produce
    increments that no longer partition the table."""
    import shutil

    first = mt.stream_manifest_append_drain(spark, sf_dir).collect()[0]
    shared = mt._stream_append_root(spark, sf_dir).removeprefix("file:")
    clone = str(tmp_path / "stream_vac")
    shutil.copytree(shared, clone)
    monkeypatch.setattr(mt, "_stream_append_root", lambda s_, sf_: clone)
    mt.vacuum_manifested(clone)  # head-only: chain becomes {4}
    assert sorted(mt.manifest_chain(clone)) == [
        mt.STREAM_APPEND_BATCHES + 1
    ]
    row = mt.stream_manifest_append_drain(spark, sf_dir).collect()[0]
    assert tuple(row) == tuple(first)
    assert sorted(mt.manifest_chain(clone)) == list(
        range(1, mt.STREAM_APPEND_BATCHES + 2)
    )


def test_schema_evolution_is_metadata_only(spark, sf_dir):
    """Adding a column must be a METADATA commit: v1-pinned readers
    keep the 3-column world, v2 readers get old files null-filled with
    the manifest's union schema, and the old months' file lists are
    byte-identical between the two manifests (no data rewritten)."""
    mt.parquet_manifest_schema_evolution(spark, sf_dir).collect()
    root = mt._schev_root(spark, sf_dir)
    chain = mt.manifest_chain(root)
    v1 = mt.read_manifested(spark, root, 1)
    assert v1.columns == [
        "o_orderkey", "o_custkey", "o_orderdate", MONTH_COL
    ]
    v2 = mt.read_manifested(spark, root, 2)
    assert v2.columns == [
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice",
        MONTH_COL,
    ]
    n_old = v2.filter(F.col(MONTH_COL) < mt.APPEND_FROM).count()
    assert (
        v2.filter(F.col("o_totalprice").isNull()).count() == n_old > 0
    )
    assert v2.filter(
        (F.col(MONTH_COL) >= mt.APPEND_FROM)
        & F.col("o_totalprice").isNull()
    ).count() == 0
    for m, names in chain[1]["files"].items():
        assert chain[2]["files"][m] == names  # old files untouched
    # the evolved read never pays a footer merge: the scan's schema is
    # the manifest's, not a merged one
    plan = v2._jdf.queryExecution().executedPlan().toString()
    assert "o_totalprice" in plan


def test_delete_where_two_tiers_and_hard_delete_at_vacuum(spark, sf_dir):
    """DELETE WHERE: summary invariants, v1-pinned readers still serve
    the PRE-delete table (the documented two-step: logical delete at
    commit, hard delete at vacuum), and vacuum then removes the
    dropped partition's files plus the rewritten originals while the
    head digest is unchanged."""
    import shutil

    row = mt.parquet_manifest_delete_where(spark, sf_dir).collect()[0]
    from customer_revenue_analysis_sql_tableau_spark.catalog import load_tables

    orders = load_tables(spark, sf_dir, names=("orders",))["orders"]
    assert (
        row["n_live"]
        == orders.count() - row["n_partition_dropped"] - row["n_row_deleted"]
    )
    assert row["n_partition_dropped"] > 0 and row["n_row_deleted"] > 0
    assert row["survivors_exact"] is True
    assert row["partition_drop_metadata_only"] is True
    assert row["rewrite_confined_to_target"] is True
    assert row["untouched_lists_identical"] is True
    # idempotent
    again = mt.parquet_manifest_delete_where(spark, sf_dir).collect()[0]
    assert tuple(again) == tuple(row)

    # destructive tail on a CLONE: v1 still serves the full table;
    # vacuum completes the hard delete without changing the head
    shared = mt._delete_root(spark, sf_dir).removeprefix("file:")
    clone = str(
        (os.path.dirname(shared) or ".") + "/manifest_del_clone_test"
    )
    shutil.rmtree(clone, ignore_errors=True)
    shutil.copytree(shared, clone)
    try:
        assert mt.read_manifested(spark, clone, 1).count() == orders.count()
        pre = content_digest(
            mt.read_manifested(spark, clone, 2), ("o_orderkey",)
        )
        deleted, expired = mt.vacuum_manifested(clone)
        assert expired == [1]
        assert any(
            rel.startswith(f"{MONTH_COL}={mt.DELETE_DROP_MONTH}/")
            for rel in deleted
        )
        assert any(
            rel.startswith(f"{MONTH_COL}={mt.DELETE_ROW_MONTH}/")
            and not rel.split("/")[1].startswith("d2-")
            for rel in deleted
        )
        assert (
            content_digest(
                mt.read_manifested(spark, clone, 2), ("o_orderkey",)
            )
            == pre
        )
    finally:
        shutil.rmtree(clone, ignore_errors=True)


def test_merge_rewrites_only_matched_files(spark, sf_dir):
    """MERGE confinement, file-by-file: every v1 file WITHOUT a match
    keeps its exact name in v2; every v1 file WITH a match is swapped
    for an m2- rewrite; inserts are i2- files; and a v1-pinned reader
    still serves the pre-merge table."""
    mt.parquet_manifest_merge_upsert(spark, sf_dir).collect()
    root = mt._merge_root(spark, sf_dir)
    chain = mt.manifest_chain(root)
    v1, v2 = chain[1], chain[2]
    head1 = mt.read_manifested(spark, root, 1)
    matched = F.col("o_orderkey") % mt.MERGE_KEY_MOD == mt.MERGE_KEY_REM
    aff_rows = (
        head1.withColumn("fname", F.input_file_name())
        .filter(matched)
        .select(MONTH_COL, "fname")
        .distinct()
        .collect()
    )
    affected = {}
    for r in aff_rows:
        affected.setdefault(r[MONTH_COL], set()).add(
            os.path.basename(r["fname"])
        )
    assert affected  # the predicate hits something
    for m, names in v1["files"].items():
        kept = [n for n in v2["files"][m] if not n.startswith(("m2-", "i2-"))]
        assert sorted(kept) == sorted(set(names) - affected.get(m, set()))
        if affected.get(m):
            assert any(n.startswith("m2-") for n in v2["files"][m])
    # v1-pinned read = the pre-merge table, bit-for-bit
    from customer_revenue_analysis_sql_tableau_spark.catalog import load_tables

    orders = load_tables(spark, sf_dir, names=("orders",))["orders"]
    assert head1.count() == orders.count()
    d1 = content_digest(head1, ("o_orderkey", "o_totalprice"))
    d0 = content_digest(
        orders.select("o_orderkey", "o_totalprice"),
        ("o_orderkey", "o_totalprice"),
    )
    assert d1 == d0


# ---------------------------------------------------------------------------
# r14: the r13-ADVICE hardening — true CAS, pinned-base replay, torn
# bootstrap resume, empty-batch versioning.
# ---------------------------------------------------------------------------


def test_commit_is_create_exclusive_never_clobbers(spark, staged):
    """The commit primitive must be a real CAS: when the destination
    exists, the loser raises AND the winner's payload is untouched —
    a check-then-rename would let the later writer silently REPLACE
    the earlier commit (r13 ADVICE)."""
    root, _d0 = staged
    chain = mt.manifest_chain(root)
    winner = {"version": 2, "files": chain[1]["files"]}
    mt.commit_manifest(root, winner)
    loser = {"version": 2, "files": {}}
    with pytest.raises(FileExistsError):
        mt.commit_manifest(root, loser)
    assert mt.manifest_chain(root)[2] == winner  # never clobbered
    # and the loser's temp inode is cleaned up
    mdir = mt._mdir(root)
    assert not [f for f in os.listdir(mdir) if ".tmp." in f]


def test_compact_pinned_base_replay_is_noop(spark, staged):
    """With ``base_version`` pinned, a replayed compaction returns the
    committed manifest without packing again (the r13 ADVICE fix: the
    floating-base replay guard was dead code)."""
    root, d0 = staged
    months = sorted(mt.manifest_chain(root)[1]["files"])
    first = mt.compact_manifested(spark, root, months, base_version=1)
    base = root
    n_files = sum(
        len(fs) for _r, _d, fs in os.walk(base)
    )
    again = mt.compact_manifested(spark, root, months, base_version=1)
    assert again == first
    assert sum(len(fs) for _r, _d, fs in os.walk(base)) == n_files
    assert _digest(spark, root, 2) == d0
    with pytest.raises(ValueError, match="not in chain"):
        mt.compact_manifested(spark, root, months, base_version=9)


def _clone_universe(root_fn, spark, sf_dir, tmp_path, monkeypatch, mod, attr):
    import shutil

    shared = root_fn(spark, sf_dir).removeprefix("file:")
    clone = str(tmp_path / "clone")
    shutil.copytree(shared, clone)
    monkeypatch.setattr(mod, attr, lambda s_, sf_: clone)
    return clone


def test_incremental_bootstrap_resumes_after_torn_v2(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A crash between the v1 and v2 bootstrap commits must RESUME on
    replay (commit v2 and serve the same rows), not wedge on a chain
    that skips the bootstrap forever (r13 ADVICE)."""
    first = mt.parquet_manifest_incremental_read(spark, sf_dir)
    d0 = content_digest(first, tuple(first.columns))
    clone = _clone_universe(
        mt._incr_root, spark, sf_dir, tmp_path, monkeypatch, mt, "_incr_root"
    )
    os.remove(os.path.join(mt._mdir(clone), "manifest_v2"))
    replay = mt.parquet_manifest_incremental_read(spark, sf_dir)
    assert sorted(mt.manifest_chain(clone)) == [1, 2]
    assert content_digest(replay, tuple(replay.columns)) == d0


def test_schema_evolution_resumes_after_torn_v2(
    spark, sf_dir, tmp_path, monkeypatch
):
    first = mt.parquet_manifest_schema_evolution(spark, sf_dir)
    d0 = content_digest(first, tuple(first.columns))
    clone = _clone_universe(
        mt._schev_root, spark, sf_dir, tmp_path, monkeypatch, mt, "_schev_root"
    )
    os.remove(os.path.join(mt._mdir(clone), "manifest_v2"))
    replay = mt.parquet_manifest_schema_evolution(spark, sf_dir)
    chain = mt.manifest_chain(clone)
    assert sorted(chain) == [1, 2]
    assert chain[2]["schema"] == mt._SCHEMA_V2
    assert content_digest(replay, tuple(replay.columns)) == d0
    # the torn first run's ev2- files are orphans the age-gated vacuum
    # spares by default and collects once grace is waived
    deleted, _exp = mt.vacuum_manifested(clone, grace_seconds=0)
    assert any(rel.split("/")[1].startswith("ev2-") for rel in deleted)
    final = mt.parquet_manifest_schema_evolution(spark, sf_dir)
    assert content_digest(final, tuple(final.columns)) == d0


def test_stream_publish_empty_batch_keeps_version_arithmetic(spark, tmp_path):
    """An EMPTY micro-batch must still commit its version (head-carry)
    so ``version = batch_id + 2`` holds unconditionally — skipping it
    leaves a chain hole that desyncs the prefix check and every later
    batch (r13 ADVICE)."""
    root = str(tmp_path / "stream_tbl")
    os.makedirs(mt._mdir(root), exist_ok=True)
    mt.commit_manifest(root, {"version": 1, "files": {}})
    schema = (
        "o_orderkey bigint, o_custkey bigint, o_totalprice double,"
        " o_orderdate timestamp"
    )
    batch0 = spark.createDataFrame(
        [(1, 10, 5.0, __import__("datetime").datetime(2001, 3, 1))],
        schema,
    )
    empty = spark.createDataFrame([], schema)
    mt.publish_stream_append_batch(root, batch0, 0)
    mt.publish_stream_append_batch(root, empty, 1)  # EMPTY mid-sequence
    batch2 = spark.createDataFrame(
        [(2, 20, 7.0, __import__("datetime").datetime(2001, 4, 1))],
        schema,
    )
    mt.publish_stream_append_batch(root, batch2, 2)
    chain = mt.manifest_chain(root)
    assert sorted(chain) == [1, 2, 3, 4]  # no hole
    assert chain[3]["files"] == chain[2]["files"]  # head-carry
    assert mt.read_manifested(spark, root, 4).count() == 2
    # the empty version's incremental read is the empty frame
    assert mt.read_manifested_incremental(spark, root, 2, 3).count() == 0
    # replay of any batch is a no-op
    mt.publish_stream_append_batch(root, batch0, 0)
    assert mt.read_manifested(spark, root).count() == 2


# ---------------------------------------------------------------------------
# r14: transaction conflict detection — the {append, delete, merge,
# compact}² commute-vs-conflict matrix, plus the registered entry's
# persisted abort/rebase facts.
# ---------------------------------------------------------------------------

import itertools

_TXN_OPS = ["append", "delete", "merge", "compact"]


def _prepare_txn(spark, root, op, tag):
    """Prepare one transaction against snapshot v1: land its files,
    return (removed, added). Non-append ops all target 2001-01 so two
    non-append writers overlap; appends land in 2001-03."""
    v1 = mt.manifest_chain(root)[1]
    if op == "append":
        _removed, added = mt.rewrite_files(
            spark, root, {"2001-03": v1["files"]["2001-03"]},
            lambda df: df, f"{tag}ap-",
        )
        return {}, added
    target = "2001-01"
    names = v1["files"][target]
    if op == "delete":
        return {target: names}, {}
    transform = (
        (lambda df: df.withColumn("v", F.col("v") + 1))
        if op == "merge"
        else (lambda df: df)
    )
    return mt.rewrite_files(
        spark, root, {target: names}, transform, f"{tag}{op[:2]}-"
    )


@pytest.mark.parametrize("op1,op2", list(itertools.product(_TXN_OPS, _TXN_OPS)))
def test_txn_commute_vs_conflict_matrix(spark, staged, op1, op2):
    """Both writers prepare against snapshot v1; writer 1 commits v2;
    writer 2's rebase must COMMUTE (append involved, or disjoint file
    sets) or ABORT (both rewrote/deleted the same files) — exactly the
    Delta conflict classification."""
    root, _d0 = staged
    r1, a1 = _prepare_txn(spark, root, op1, "w1")
    r2, a2 = _prepare_txn(spark, root, op2, "w2")
    p1, n1 = mt.commit_transaction(root, 1, r1, a1)
    assert n1 == 0 and p1["version"] == 2
    expect_conflict = op1 != "append" and op2 != "append"
    if expect_conflict:
        with pytest.raises(mt.CommitConflictError):
            mt.commit_transaction(root, 1, r2, a2)
        assert sorted(mt.manifest_chain(root)) == [1, 2]
        return
    p2, n2 = mt.commit_transaction(root, 1, r2, a2)
    assert n2 == 1 and p2["version"] == 3
    head = mt.manifest_chain(root)[3]["files"]
    for added in (a1, a2):
        for m, ns in added.items():
            assert set(ns) <= set(head.get(m, []))
    for removed in (r1, r2):
        for m, ns in removed.items():
            assert not set(ns) & set(head.get(m, []))
    # the serialized result is readable and row-count-consistent:
    # each append duplicates 2001-03 (200 rows), a delete drops 2001-01
    n = mt.read_manifested(spark, root).count()
    expected = 600
    for op in (op1, op2):
        if op == "append":
            expected += 200
        elif op == "delete":
            expected -= 200
    assert n == expected


def test_txn_disjoint_rewrites_commute(spark, staged):
    """Two non-append transactions on DISJOINT file sets (delete of
    2001-01 racing a compaction of 2001-02) must both land."""
    root, _d0 = staged
    v1 = mt.manifest_chain(root)[1]
    packed = mt.rewrite_files(
        spark, root, {"2001-02": v1["files"]["2001-02"]}, lambda df: df, "cp-"
    )[1]["2001-02"]
    mt.commit_transaction(
        root, 1, {"2001-01": v1["files"]["2001-01"]}, {}
    )  # delete wins v2
    p2, n2 = mt.commit_transaction(
        root, 1, {"2001-02": v1["files"]["2001-02"]}, {"2001-02": packed}
    )
    assert n2 == 1 and p2["version"] == 3
    head = mt.manifest_chain(root)[3]["files"]
    assert "2001-01" not in head
    assert head["2001-02"] == packed
    assert head["2001-03"] == v1["files"]["2001-03"]
    df = mt.read_manifested(spark, root)
    assert df.count() == 400
    assert df.filter(F.col(MONTH_COL) == "2001-01").count() == 0


def test_conflict_detect_entry_persisted_facts(spark, sf_dir):
    """The registered entry's chain and persisted abort/rebase facts."""
    df = mt.parquet_manifest_conflict_detect(spark, sf_dir)
    root = mt._txn_root(spark, sf_dir)
    base = root.removeprefix("file:")
    assert sorted(mt.manifest_chain(root)) == [1, 2, 3, 4]
    from customer_revenue_analysis_sql_tableau_spark.lake_core import read_json

    assert read_json(os.path.join(base, "conflict_captured"))[
        "conflict_captured"
    ] is True
    assert read_json(os.path.join(base, "append_rebases"))["n_rebases"] == 1
    # idempotent replay
    again = mt.parquet_manifest_conflict_detect(spark, sf_dir)
    assert again.count() == df.count()
    # the merge's bump survives the aborted stale compaction: v4 holds
    # bumped values for the matched slice
    bumped = mt.read_manifested(spark, root, 4).filter(
        (F.col(MONTH_COL) == mt.TXN_MERGE_MONTH)
        & (F.col("o_custkey") % mt.TXN_MERGE_MOD == mt.TXN_MERGE_REM)
        & (F.col("o_orderkey") < mt.TXN_INSERT_OFFSET)
    )
    orig = mt.read_manifested(spark, root, 1).filter(
        (F.col(MONTH_COL) == mt.TXN_MERGE_MONTH)
        & (F.col("o_custkey") % mt.TXN_MERGE_MOD == mt.TXN_MERGE_REM)
    )
    assert bumped.count() == orig.count() > 0
    got = {r["o_orderkey"]: r["o_totalprice"] for r in bumped.collect()}
    want = {
        r["o_orderkey"]: r["o_totalprice"] + mt.TXN_PRICE_BUMP
        for r in orig.collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# r14: row-level change feed over CoW commits.
# ---------------------------------------------------------------------------


def test_cdf_compaction_commit_emits_empty_feed(spark, staged):
    """A content-neutral rewrite (OPTIMIZE) adds and removes files but
    every carried row is identical pre/post — the feed must be EMPTY."""
    root, _d0 = staged
    chain = mt.manifest_chain(root)
    months = sorted(chain[1]["files"])
    packed = {
        m: mt.pack_partition_files(spark, root, m, chain[1]["files"][m], 2)
        for m in months
    }
    mt.commit_manifest(root, {"version": 2, "files": packed})
    feed = mt.read_change_feed(spark, root, 1, 2, ["k"])
    assert feed.count() == 0


def test_cdf_classifies_all_change_types(spark, staged):
    """One commit that simultaneously updates half of 2001-01, carries
    the other half, drops 2001-02, and appends new keys — the feed must
    classify every row and omit every carried neighbor."""
    root, _d0 = staged
    v1 = mt.manifest_chain(root)[1]
    # CoW rewrite of 2001-01: bump v where k % 2 == 0
    upd_names = mt.rewrite_files(
        spark, root, {"2001-01": v1["files"]["2001-01"]},
        lambda df: df.withColumn(
            "v",
            F.when(F.col("k") % 2 == 0, F.col("v") + 1).otherwise(F.col("v")),
        ),
        "u2-",
    )[1]["2001-01"]
    # appended new keys into 2001-03
    ins_names = mt.rewrite_files(
        spark, root, {"2001-03": v1["files"]["2001-03"]},
        lambda df: df.withColumn("k", F.col("k") + 10_000),
        "n2-",
    )[1]["2001-03"]
    files = {
        "2001-01": upd_names,  # rewrite
        # 2001-02 dropped (delete)
        "2001-03": v1["files"]["2001-03"] + ins_names,  # append
    }
    mt.commit_manifest(root, {"version": 2, "files": files})
    feed = mt.read_change_feed(spark, root, 1, 2, ["k"]).cache()
    by_type = {
        r["_change_type"]: r["n"]
        for r in feed.groupBy("_change_type").agg(F.count("*").alias("n")).collect()
    }
    assert by_type == {
        "update_preimage": 100,   # half of 2001-01's 200 rows
        "update_postimage": 100,
        "delete": 200,            # all of 2001-02
        "insert": 200,            # the shifted copies
    }
    # pre/post pair on the same keys, values bumped exactly once
    pre = feed.filter(F.col("_change_type") == "update_preimage")
    post = feed.filter(F.col("_change_type") == "update_postimage")
    j = pre.select("k", F.col("v").alias("v_pre")).join(
        post.select("k", F.col("v").alias("v_post")), "k"
    )
    assert j.count() == 100
    assert j.filter(F.col("v_post") != F.col("v_pre") + 1).count() == 0
    # carried neighbors (odd k of 2001-01, all of untouched 2001-03
    # originals) are absent
    assert feed.filter(
        (F.col(MONTH_COL) == "2001-01") & (F.col("k") % 2 == 1)
    ).count() == 0
    feed.unpersist()


def test_cdf_metadata_only_range_raises(spark, staged):
    """A version range holding only metadata commits (head-carry) has
    no change rows — the reader must say so loudly."""
    root, _d0 = staged
    v1 = mt.manifest_chain(root)[1]
    mt.commit_manifest(root, {"version": 2, "files": v1["files"]})
    assert mt.changes_for_commit(spark, root, 2, ["k"]) is None
    with pytest.raises(ValueError, match="no data commits"):
        mt.read_change_feed(spark, root, 1, 2, ["k"])


def test_cdf_ivm_fold_matches_direct_recompute(spark, sf_dir):
    """The IVM consumer: state(v1) folded with signed CDF deltas must
    equal the direct aggregate over the merged head (v2)."""
    from customer_revenue_analysis_sql_tableau_spark.functions.money import cents

    folded = mt.manifest_cdf_ivm_revenue(spark, sf_dir)
    root = mt._merge_root(spark, sf_dir)
    direct = (
        mt.read_manifested(spark, root, 2)
        .groupBy(F.col(MONTH_COL).alias("pm"))
        .agg(
            F.sum(cents("o_totalprice")).alias("revenue_cents"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )
    assert folded.exceptAll(direct).count() == 0
    assert direct.exceptAll(folded).count() == 0


# ---------------------------------------------------------------------------
# r14: exactly-once streaming MERGE into the manifested table.
# ---------------------------------------------------------------------------


def test_stream_merge_drain_final_state_and_idempotence(spark, sf_dir):
    from customer_revenue_analysis_sql_tableau_spark.catalog import load_tables

    df = mt.stream_manifest_merge_drain(spark, sf_dir)
    orders = load_tables(spark, sf_dir, names=("orders",))["orders"]
    assert df.count() == orders.count()  # every key exactly once
    # mod-0 keys (upserted twice) carry the LAST delivery's price
    j = df.filter(F.col("o_orderkey") % mt.STREAM_MERGE_BATCHES == 0).join(
        orders.select("o_orderkey", F.col("o_totalprice").alias("base")),
        "o_orderkey",
    )
    bump = (mt.STREAM_MERGE_BATCHES - 1) * mt.STREAM_MERGE_BUMP
    assert j.filter(
        F.col("o_totalprice") != F.col("base") + bump
    ).count() == 0
    # duplicate check: no key appears twice
    assert df.groupBy("o_orderkey").count().filter("count > 1").count() == 0
    # a second call must not re-run the stream or change anything
    root = mt._stream_merge_root(spark, sf_dir).removeprefix("file:")
    n_files = sum(len(fs) for _r, _d, fs in os.walk(root))
    again = mt.stream_manifest_merge_drain(spark, sf_dir)
    assert again.count() == df.count()
    assert sum(len(fs) for _r, _d, fs in os.walk(root)) == n_files


def test_stream_merge_torn_commit_replays_exactly_once(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Rip the LAST merge commit off a completed stream: re-entry must
    re-publish exactly that batch — the head holds every key once with
    its final image, and the torn first run's files are orphans vacuum
    collects without changing the head."""
    import shutil

    first = mt.stream_manifest_merge_drain(spark, sf_dir)
    d0 = content_digest(first, ("o_orderkey", "o_totalprice"))
    shared = mt._stream_merge_root(spark, sf_dir).removeprefix("file:")
    clone = str(tmp_path / "smerge_clone")
    shutil.copytree(shared, clone)
    monkeypatch.setattr(mt, "_stream_merge_root", lambda s_, sf_: clone)
    last_v = mt.STREAM_MERGE_BATCHES + 1
    os.remove(os.path.join(mt._mdir(clone), f"manifest_v{last_v}"))
    replay = mt.stream_manifest_merge_drain(spark, sf_dir)
    assert content_digest(replay, ("o_orderkey", "o_totalprice")) == d0
    deleted, _exp = mt.vacuum_manifested(clone, grace_seconds=0)
    assert len(deleted) > 0  # the torn run's orphaned files
    assert (
        content_digest(
            mt.read_manifested(spark, clone),
            ("o_orderkey", "o_totalprice"),
        )
        == d0
    )


def test_stream_merge_rewrites_only_matched_files(spark, sf_dir):
    """Confinement: batch 1's CoW rewrites (mb1- names) replace ONLY
    files of months that held a mod-0 or mod-1 key at v2; every other
    v2 file name is carried verbatim into v3."""
    mt.stream_manifest_merge_drain(spark, sf_dir)
    root = mt._stream_merge_root(spark, sf_dir)
    chain = mt.manifest_chain(root)
    v2, v3 = chain[2], chain[3]
    v2_files = {
        (m, n) for m, ns in v2["files"].items() for n in ns
    }
    v3_files = {
        (m, n) for m, ns in v3["files"].items() for n in ns
    }
    new = v3_files - v2_files
    assert new  # batch 1 landed rewrites + inserts
    assert all(
        n.startswith(("mb1-", "b1-")) for _m, n in new
    )
    removed = v2_files - v3_files
    # every removed file was replaced by a rewrite in the same month
    rewritten_months = {m for m, n in new if n.startswith("mb1-")}
    assert removed and {m for m, _n in removed} <= rewritten_months


# ---------------------------------------------------------------------------
# r14: clustered OPTIMIZE (ZORDER) through the manifest.
# ---------------------------------------------------------------------------


def test_zorder_optimize_entry_invariants(spark, sf_dir):
    row = mt.parquet_manifest_zorder_optimize(spark, sf_dir).collect()[0]
    from customer_revenue_analysis_sql_tableau_spark.catalog import load_tables

    orders = load_tables(spark, sf_dir, names=("orders",))["orders"]
    assert row["n_rows"] == orders.count()
    assert row["n_selected"] > 0
    assert row["digest_unchanged"] is True
    assert row["skip_improved"] is True
    assert row["clustered_layout_skips"] is True
    assert row["unselected_untouched"] is True
    # idempotent replay
    again = mt.parquet_manifest_zorder_optimize(spark, sf_dir).collect()[0]
    assert tuple(again) == tuple(row)


def test_zorder_skip_measured_from_footers(spark):
    """The magnitude behind the boolean: under the quadrant box the
    clustered layout must read at most half the files the random
    layout reads (footer stats only, zero data I/O). Pinned at sf0.01
    — at sf0.001 a month holds ~20 rows, so even the random layout's
    3-row files have ranges narrow enough to skip and the file-count
    magnitude is meaningless (the entry's absolute-count boolean still
    holds there)."""
    sf_dir = "/root/testdata/sf0.01"
    mt.parquet_manifest_zorder_optimize(spark, sf_dir).collect()
    root = mt._zorder_root(spark, sf_dir)
    chain = mt.manifest_chain(root)
    selected = sorted(m for m in chain[1]["files"] if m < mt.ZORDER_CUTOFF)
    b = mt.read_manifested(spark, root, 2).agg(
        F.min(mt.ZORDER_X), F.max(mt.ZORDER_X),
        F.min(mt.ZORDER_Y), F.max(mt.ZORDER_Y),
    ).collect()[0]
    box = {
        mt.ZORDER_X: (
            b[0] + (b[1] - b[0]) * 0.10, b[0] + (b[1] - b[0]) * 0.20
        ),
        mt.ZORDER_Y: (
            b[2] + (b[3] - b[2]) * 0.10, b[2] + (b[3] - b[2]) * 0.20
        ),
    }
    n1, e1 = mt.count_eligible_files(root, chain[1]["files"], selected, box)
    n2, e2 = mt.count_eligible_files(root, chain[2]["files"], selected, box)
    assert e1 / n1 > 0.9  # random layout: nearly every file eligible
    assert e2 / n2 <= 0.5  # clustered layout: at least half skipped
    # partition pruning still holds on the clustered manifested read
    df = mt.read_manifested(spark, root, 2).filter(
        F.col(MONTH_COL) == selected[0]
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and selected[0] in plan


# ---------------------------------------------------------------------------
# r14: manifest-carried file stats + pruned reads; CDF across schema
# evolution.
# ---------------------------------------------------------------------------


def test_stats_pruned_read_io_claim(spark):
    """The I/O claim itself: the pruned read's input files are EXACTLY
    the manifest-eligible set, strictly smaller than the table, and the
    filtered rows equal the unpruned box query's. Pinned at sf0.01
    (same rationale as the zorder magnitude test)."""
    sf_dir = "/root/testdata/sf0.01"
    mt.parquet_manifest_stats_pruned_read(spark, sf_dir).collect()
    root = mt._zorder_root(spark, sf_dir)
    box = mt._stats_box(spark, root)
    df, eligible, total = mt.read_manifested_pruned(spark, root, box, 3)
    assert 0 < len(eligible) < total

    def norm(p):
        return "/" + p.removeprefix("file:").lstrip("/")

    got = {norm(f) for f in df.inputFiles()}
    want = {norm(f"{root}/{rel}") for rel in eligible}
    assert got == want
    # pruning is a superset filter: same rows as the unpruned query
    full = mt.read_manifested(spark, root, 3)
    for c, (lo, hi) in box.items():
        full = full.filter(F.col(c).between(lo, hi))
    assert df.count() == full.count() > 0
    assert df.exceptAll(full).count() == 0


def test_stats_absent_means_eligible(spark, staged):
    """Files without recorded stats must stay eligible — pruning can
    never silently drop unpriced files."""
    root, _d0 = staged
    chain = mt.manifest_chain(root)
    v1 = chain[1]
    stats = mt.collect_file_stats(root, v1["files"], ["k"])
    # strip one month's stats entirely
    m0 = sorted(stats)[0]
    del stats[m0]
    mt.commit_manifest(
        root, {"version": 2, "files": v1["files"], "stats": stats}
    )
    # a box matching nothing: priced files all pruned; unpriced stay
    df, eligible, total = mt.read_manifested_pruned(
        spark, root, {"k": (10**9, 10**9 + 1)}, 2
    )
    assert total == sum(len(ns) for ns in v1["files"].values())
    assert all(rel.startswith(f"{MONTH_COL}={m0}/") for rel in eligible)
    assert len(eligible) == len(v1["files"][m0])
    assert df.count() == 0  # the residual predicate still applies


def test_fully_pruned_box_returns_empty_frame(spark, staged):
    """A box every priced file's range misses is a legitimate answer:
    the pruned read returns an EMPTY frame with the table's schema
    instead of handing spark.read zero paths (r14 ADVICE: that
    raised)."""
    root, _d0 = staged
    chain = mt.manifest_chain(root)
    v1 = chain[1]
    stats = mt.collect_file_stats(root, v1["files"], ["k"])
    mt.commit_manifest(
        root, {"version": 2, "files": v1["files"], "stats": stats}
    )
    df, eligible, total = mt.read_manifested_pruned(
        spark, root, {"k": (10**9, 10**9 + 1)}, 2
    )
    assert eligible == [] and total > 0
    assert df.count() == 0
    assert set(df.columns) >= {"k", "v", MONTH_COL}


def test_cdf_across_schema_evolution(spark, tmp_path):
    """A CoW rewrite that simultaneously evolves the schema: carried
    rows (new column null on both images after alignment) drop out;
    rows whose new column was populated emit update pairs with a NULL
    pre-image for the added column."""
    root = str(tmp_path / "tbl")
    df = spark.range(100).select(
        F.col("id").alias("k"),
        (F.col("id") * 2.0).alias("v"),
        F.lit("2001-01").alias(MONTH_COL),
    )
    df.coalesce(1).write.partitionBy(MONTH_COL).parquet(root)
    mt.init_manifest(root)
    v1 = mt.manifest_chain(root)[1]
    # rewrite the single file into an EVOLVED schema: new column w,
    # populated only for even k; v carried unchanged
    evolved = mt.rewrite_files(
        spark, root, {"2001-01": v1["files"]["2001-01"]},
        lambda d: d.withColumn(
            "w", F.when(F.col("k") % 2 == 0, F.lit(1.5))
        ),
        "e2-",
    )[1]["2001-01"]
    mt.commit_manifest(
        root, {"version": 2, "files": {"2001-01": evolved}}
    )
    feed = mt.read_change_feed(spark, root, 1, 2, ["k"]).cache()
    by_type = {
        r["_change_type"]: r["n"]
        for r in feed.groupBy("_change_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert by_type == {"update_preimage": 50, "update_postimage": 50}
    pre = feed.filter(F.col("_change_type") == "update_preimage")
    assert pre.filter(F.col("w").isNotNull()).count() == 0  # null pre-image
    post = feed.filter(F.col("_change_type") == "update_postimage")
    assert post.filter(F.col("w") != 1.5).count() == 0
    assert post.filter(F.col("k") % 2 != 0).count() == 0
    feed.unpersist()


# ---------------------------------------------------------------------------
# r14: REAL-THREAD multi-writer stress — serializability under genuine
# interleaving, beyond the deterministic schedules.
# ---------------------------------------------------------------------------


def test_threaded_appenders_all_land(spark, staged):
    """8 concurrent append transactions from the SAME stale snapshot:
    every one must land (appends always commute), each on its own
    version, with no lost additions and the original content intact."""
    from concurrent.futures import ThreadPoolExecutor

    root, d0 = staged
    v1 = mt.manifest_chain(root)[1]
    months = sorted(v1["files"])

    def writer(i):
        m = months[i % len(months)]
        landed = mt.rewrite_files(
            spark, root, {m: v1["files"][m]}, lambda df: df, f"w{i}x-"
        )[1][m]
        payload, _reb = mt.commit_transaction(root, 1, {}, {m: landed})
        return payload["version"]

    with ThreadPoolExecutor(max_workers=8) as ex:
        versions = sorted(ex.map(writer, range(8)))
    assert versions == list(range(2, 10))  # one commit each, no gaps
    head = mt.manifest_chain(root)[9]["files"]
    head_names = {n for ns in head.values() for n in ns}
    for i in range(8):
        assert any(n.startswith(f"w{i}x-") for n in head_names)
    # original files all still referenced; nothing lost
    for m, ns in v1["files"].items():
        assert set(ns) <= set(head[m])
    # every appender duplicated one month's 200 rows
    assert mt.read_manifested(spark, root).count() == 600 + 8 * 200


def test_threaded_rewriters_exactly_one_wins(spark, staged):
    """4 concurrent CoW rewrites of the SAME files from the same
    snapshot: exactly one commits, the rest abort with
    CommitConflictError — never a silent lost update."""
    from concurrent.futures import ThreadPoolExecutor

    root, d0 = staged
    v1 = mt.manifest_chain(root)[1]
    m = sorted(v1["files"])[0]

    def writer(i):
        landed = mt.rewrite_files(
            spark, root, {m: v1["files"][m]},
            lambda df: df.withColumn("v", F.col("v") + 100 + i), f"r{i}-",
        )[1][m]
        try:
            mt.commit_transaction(
                root, 1, {m: v1["files"][m]}, {m: landed}
            )
            return "win"
        except mt.CommitConflictError:
            return "abort"

    with ThreadPoolExecutor(max_workers=4) as ex:
        outcomes = sorted(ex.map(writer, range(4)))
    assert outcomes == ["abort", "abort", "abort", "win"]
    # the winner's rewrite is the committed state; count preserved
    assert sorted(mt.manifest_chain(root)) == [1, 2]
    assert mt.read_manifested(spark, root).count() == 600

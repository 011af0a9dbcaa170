"""Persisted-IVF lifecycle (r9 VERDICT Next #3): build-once artifacts,
training-free read path, equality with the in-process IVF tier."""

from __future__ import annotations

import pytest

from customer_revenue_analysis_sql_tableau_spark.operators import similarity as sim


@pytest.fixture(scope="module")
def built_index(spark, sf_dir):
    summary = sim.sim_ivf_index_build(spark, sf_dir).collect()[0]
    return summary


def test_build_summary_invariants(built_index, spark, sf_dir):
    e = sim.load_tables(spark, sf_dir, names=("embeddings",))["embeddings"]
    assert built_index["n_vectors"] == e.count()
    assert built_index["one_cell_per_vector"] is True
    assert built_index["cells_within_geometry"] is True


def test_artifacts_on_disk(built_index, spark, sf_dir):
    d = sim._ivf_index_dir(spark, sf_dir)
    cents = spark.read.parquet(f"{d}/centroids")
    meta = spark.read.parquet(f"{d}/meta").collect()[0]
    assert cents.count() == meta["nlist"]
    assert 0 < meta["nprobe"] <= meta["nlist"]
    # postings are partitioned by cell: the partition column must come
    # back as a real column from the directory layout
    postings = spark.read.parquet(f"{d}/postings")
    assert "cell" in postings.columns
    assert postings.count() == meta["n_vectors"]


def test_read_path_never_trains(built_index, spark, sf_dir, monkeypatch):
    """The query entry must be a pure read path: with the index built,
    it must succeed even when the trainer and the sampler are
    unreachable, and its plan must contain no Python/Arrow eval stage
    (cell assignment happened at build time; the probe is a JVM HOF
    over the persisted centroids)."""

    def boom(*a, **k):  # pragma: no cover - must never run
        raise AssertionError("read path invoked k-means training")

    monkeypatch.setattr(sim, "_train_centroids", boom)
    df = sim.sim_persisted_ivf_topk(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # the scans must come from the persisted index directory
    assert any("ivf_index_" in f for f in df.inputFiles())
    assert df.count() > 0


def test_persisted_equals_inprocess_ivf(built_index, spark, sf_dir):
    """Same quantizer recipe + seeds + tie order ⇒ the persisted read
    path must return exactly the in-process IVF tier's top-k."""
    a = sorted(
        map(tuple, sim.sim_persisted_ivf_topk(spark, sf_dir).collect())
    )
    b = sorted(map(tuple, sim.sim_ivf_topk(spark, sf_dir).collect()))
    assert a == b


def test_compaction_summary_invariants(built_index, spark, sf_dir):
    row = sim.sim_persisted_index_compact(spark, sf_dir).collect()[0]
    assert row["n_wave_a_deleted"] > 0
    assert row["removed_exactly_wave_a"] is True
    assert row["delta_clean"] is True
    assert row["manifest_complete"] is True


def test_persisted_delete_read_path_never_trains(
    built_index, spark, sf_dir, monkeypatch
):
    sim.sim_persisted_index_compact(spark, sf_dir)  # ensure the delta

    def boom(*a, **k):  # pragma: no cover - must never run
        raise AssertionError("delete read path invoked k-means training")

    monkeypatch.setattr(sim, "_train_centroids", boom)
    df = sim.sim_persisted_delete_ivf_topk(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # reads the compacted segments
    assert any("delete_delta" in f for f in df.inputFiles())
    assert df.count() > 0


def test_persisted_delete_equals_inprocess(built_index, spark, sf_dir):
    """Same quantizer recipe + wave split ⇒ the compacted persisted
    read path must return exactly the in-process delete tier's top-k,
    and (by composition with the in-process tier's pytest) never a
    deleted vector."""
    a = sorted(
        map(
            tuple,
            sim.sim_persisted_delete_ivf_topk(spark, sf_dir).collect(),
        )
    )
    b = sorted(map(tuple, sim.sim_delete_ivf_topk(spark, sf_dir).collect()))
    assert a == b


def test_ingest_delta_summary_invariants(spark, sf_dir):
    row = sim.sim_persisted_ingest_delta(spark, sf_dir).collect()[0]
    assert row["n_delivery"] > 0
    assert row["delta_disjoint_from_base"] is True
    assert row["one_row_per_vector"] is True
    assert row["cells_within_geometry"] is True


def test_persisted_delivery_read_path_never_trains(
    spark, sf_dir, monkeypatch
):
    sim.sim_persisted_ingest_delta(spark, sf_dir)  # ensure the segments

    def boom(*a, **k):  # pragma: no cover - must never run
        raise AssertionError("delivery read path invoked k-means training")

    monkeypatch.setattr(sim, "_train_centroids", boom)
    df = sim.sim_persisted_delivery_topk(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # queries come from the delta segment
    assert any("insert_delta" in f for f in df.inputFiles())
    assert df.count() > 0


def test_persisted_delivery_equals_inprocess(spark, sf_dir):
    """Same base-trained quantizer + delivery split ⇒ the persisted
    segments' read path must return exactly the in-process incremental
    tier's top-k."""
    a = sorted(
        map(tuple, sim.sim_persisted_delivery_topk(spark, sf_dir).collect())
    )
    b = sorted(map(tuple, sim.sim_incremental_ivf(spark, sf_dir).collect()))
    assert a == b


def test_rebuild_on_fingerprint_change(spark, sf_dir, tmp_path):
    """A different source fingerprint maps to a different index dir —
    regenerated fixtures can never be served a stale index."""
    d1 = sim._ivf_index_dir(spark, sf_dir)
    d2 = sim._ivf_index_dir(spark, "/root/testdata/sf0.01")
    assert d1 != d2


def test_multi_delta_merge_invariants(spark, sf_dir):
    """Background compaction (r10 VERDICT Next #5): folding the
    2-segment delta stack must preserve the live vector set exactly,
    bound its I/O to touched cells, and complete its manifest."""
    row = sim.sim_persisted_merge_deltas(spark, sf_dir).collect()[0]
    e = sim.load_tables(spark, sf_dir, names=("embeddings",))["embeddings"]
    from pyspark.sql import functions as F

    n_delivery = e.filter(
        F.col("vec_id") % sim.DELIVERY_MOD == sim.DELIVERY_MOD - 1
    ).count()
    assert row["n_delta_rows"] == n_delivery
    assert row["segments_folded"] == 2
    assert row["live_set_preserved"] is True
    assert row["merge_io_bounded"] is True
    assert row["manifest_complete"] is True


def test_merged_reader_bit_identical_to_segment_stack(spark, sf_dir):
    """A reader over the merged v2 base (untouched v1 cells ∪ merged
    cells) must answer queries bit-identically to a reader over the
    full base + delta-stack view — merging changes the LAYOUT, never
    the answers."""
    from pyspark.sql import functions as F

    sim.sim_persisted_merge_deltas(spark, sf_dir)
    d = f"{sim._ivf_index_dir(spark, sf_dir)}_base"
    meta = spark.read.parquet(f"{d}/insert_delta/meta").collect()[0]
    cent_df = spark.read.parquet(f"{d}/centroids")
    base = spark.read.parquet(f"{d}/postings").select("vec_id", "v", "cell")
    stack = base
    for seg in ("insert_delta_w1", "insert_delta_w2"):
        stack = stack.unionByName(
            spark.read.parquet(f"{d}/{seg}/postings").select(
                "vec_id", "v", "cell"
            )
        )
    merged_view = sim._merged_reader_postings(spark, sf_dir)
    queries = base.filter(F.col("vec_id") < sim.N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    a = sorted(
        map(
            tuple,
            sim._probe_and_rank(
                cent_df, int(meta["nprobe"]), queries, merged_view
            ).collect(),
        )
    )
    b = sorted(
        map(
            tuple,
            sim._probe_and_rank(
                cent_df, int(meta["nprobe"]), queries, stack
            ).collect(),
        )
    )
    assert a == b and len(a) > 0


def test_concurrent_ingest_commit_protocol(spark, sf_dir):
    """Multi-writer updates (SCALE.md's last lifecycle gap): the
    versioned-manifest commit must capture the stale writer's
    rejection, keep the version chain strictly growing (no lost
    update), and leave the final manifest covering the full corpus."""
    row = sim.sim_persisted_concurrent_ingest(spark, sf_dir).collect()[0]
    e = sim.load_tables(spark, sf_dir, names=("embeddings",))["embeddings"]
    assert row["n_live"] == e.count()
    assert row["manifest_versions"] == 3
    assert row["stale_commit_rejected"] is True
    assert row["chain_monotone"] is True
    assert row["final_manifest_complete"] is True
    # idempotent: a second call re-reads the committed chain
    again = sim.sim_persisted_concurrent_ingest(spark, sf_dir).collect()[0]
    assert tuple(again) == tuple(row)


def test_manifest_cas_real_multiprocess_race(tmp_path):
    """The commit protocol's primitive — atomic create-exclusive of
    manifest_v{N+1} — under a REAL race: many processes attempt the
    same version simultaneously; exactly one must win and every loser
    must observe FileExistsError (no torn manifests, no double win).
    (The registry entry replays the conflict schedule deterministically
    for the driver hash; this pins the primitive it relies on.)"""
    import json
    import multiprocessing as mp

    target = tmp_path / "manifest_v2"

    def attempt(idx, q):
        try:
            with open(target, "x") as fh:
                json.dump({"winner": idx}, fh)
            q.put(("won", idx))
        except FileExistsError:
            q.put(("lost", idx))

    ctx = mp.get_context("fork")
    q = ctx.Queue()
    procs = [ctx.Process(target=attempt, args=(i, q)) for i in range(8)]
    for p in procs:
        p.start()
    for p in procs:
        p.join(30)
    results = [q.get(timeout=10) for _ in procs]
    winners = [i for s, i in results if s == "won"]
    assert len(winners) == 1, results
    assert len([1 for s, _ in results if s == "lost"]) == 7
    assert json.load(open(target))["winner"] == winners[0]


def test_concurrent_ingest_torn_protocol_replays(spark, sf_dir):
    """v3 is the protocol's completion marker: rip it (and the
    rejection flag) off a completed run — a crash between B's rejected
    attempt and its rebase commit — and the next call must REPLAY the
    deterministic commits idempotently and converge to the identical
    summary."""
    import os

    before = tuple(
        sim.sim_persisted_concurrent_ingest(spark, sf_dir).collect()[0]
    )
    d = f"{sim._ivf_index_dir(spark, sf_dir)}_base".removeprefix("file:")
    mdir = f"{d}/segments_manifest"
    os.remove(f"{mdir}/manifest_v3")
    os.remove(f"{mdir}/stale_commit_rejected")
    after = tuple(
        sim.sim_persisted_concurrent_ingest(spark, sf_dir).collect()[0]
    )
    assert after == before
    assert os.path.exists(f"{mdir}/manifest_v3")
    assert os.path.exists(f"{mdir}/stale_commit_rejected")

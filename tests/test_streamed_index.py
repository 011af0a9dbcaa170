"""Streaming index maintenance (r11): the foreachBatch ingest loop,
the on-disk compaction scheduling policy, and the maintained reader's
bit-identity with a flat segment-stack reader."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from customer_revenue_analysis_sql_tableau_spark.operators import sketch_checks as sk
from customer_revenue_analysis_sql_tableau_spark.operators import similarity as sim
from customer_revenue_analysis_sql_tableau_spark.streaming import index_maintenance as im


@pytest.fixture(scope="module")
def drained(spark, sf_dir):
    return im.stream_index_maintenance_drain(spark, sf_dir).collect()[0]


def test_drain_summary_invariants(drained, spark, sf_dir):
    e = sim.load_tables(spark, sf_dir, names=("embeddings",))["embeddings"]
    n_delivery = e.filter(
        F.col("vec_id") % sim.DELIVERY_MOD == sim.DELIVERY_MOD - 1
    ).count()
    assert drained["n_delivery"] == n_delivery
    assert drained["n_batches"] == im.N_STREAM_BATCHES
    # trigger=2 over 3 batches: the fold fires once, inside batch 1,
    # and batch 2's segment stays pending at end-of-stream
    assert drained["compactions_triggered"] == 1
    assert drained["pending_after"] == 1
    assert drained["live_set_preserved"] is True
    assert drained["merge_io_bounded"] is True
    assert drained["cells_within_geometry"] is True


def test_final_manifest_names_every_segment(drained, spark, sf_dir):
    sdir = im._streamed_dir(spark, sf_dir)
    rows = spark.read.parquet(f"{sdir}/final_manifest").collect()
    statuses = {r["segment"]: r["status"] for r in rows}
    assert set(statuses) == {
        f"delta_b{k}" for k in range(im.N_STREAM_BATCHES)
    }
    assert sorted(statuses.values()) == ["merged_v2", "merged_v2", "pending"]


def test_maintained_reader_bit_identical_to_segment_stack(
    drained, spark, sf_dir
):
    """Untouched-v1 ∪ merged-v2 ∪ pending must answer queries exactly
    like a flat reader over base ∪ every delta segment — compaction
    must never change an answer."""
    view, sdir, d = im._maintained_reader_postings(spark, sf_dir)
    base = spark.read.parquet(f"{d}/postings").select("cell", "vec_id", "v")
    flat = base
    for k in range(im.N_STREAM_BATCHES):
        flat = flat.unionByName(
            spark.read.parquet(f"{sdir}/delta_b{k}/postings").select(
                "cell", "vec_id", "v"
            )
        )
    cent_df = spark.read.parquet(f"{d}/centroids")
    nprobe = int(
        spark.read.parquet(f"{d}/insert_delta/meta").collect()[0]["nprobe"]
    )
    e = sim.load_tables(spark, sf_dir, names=("embeddings",))["embeddings"]
    queries = e.filter(F.col("vec_id") < sim.N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )
    a = sorted(
        map(
            tuple,
            sim._probe_and_rank(cent_df, nprobe, queries, view).collect(),
        )
    )
    b = sorted(
        map(
            tuple,
            sim._probe_and_rank(cent_df, nprobe, queries, flat).collect(),
        )
    )
    assert a == b and len(a) > 0


def test_read_path_never_trains(drained, spark, sf_dir, monkeypatch):
    """With the maintained index on disk, the query entry must run
    with the trainer unreachable and a Python-eval-free plan (cell
    assignment happened at ingest time, in foreachBatch)."""

    def boom(*a, **k):  # pragma: no cover - must never run
        raise AssertionError("maintained read path invoked training")

    monkeypatch.setattr(sim, "_train_centroids", boom)
    df = im.stream_maintained_index_topk(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "ivf_index_" in plan
    assert df.count() > 0


def test_drain_idempotent_no_restream(drained, spark, sf_dir, monkeypatch):
    """A second drain call must serve the summary from the persisted
    artifacts without re-running the stream (the final_manifest is the
    completion marker)."""

    def boom(*a, **k):  # pragma: no cover - must never run
        raise AssertionError("completed drain re-entered the stream")

    monkeypatch.setattr(sim, "sim_persisted_ingest_delta", boom)
    monkeypatch.setattr(im, "sim_persisted_ingest_delta", boom)
    row = im.stream_index_maintenance_drain(spark, sf_dir).collect()[0]
    assert row["n_delivery"] == drained["n_delivery"]
    assert row["live_set_preserved"] is True


def test_recall_floor(drained, spark, sf_dir):
    row = sk.stream_maintained_recall_check(spark, sf_dir).collect()[0]
    assert row["recall_ok"] is True
    assert row["n_queries"] == sim.N_QUERIES


def test_multi_fold_version_chain(spark, sf_dir, tmp_path, monkeypatch):
    """Trigger=1 folds after EVERY batch: three merged versions whose
    manifests overlap cells, so the reader's version-ordered
    resolution (later fold wins its cells — each fold's postings were
    built FROM the previous view) is actually exercised; one fold
    never overlaps. Runs in its own index dir via a patched
    _streamed_dir, leaving the shared artifacts untouched."""
    sdir = str(tmp_path / "streamed_multi")
    monkeypatch.setattr(im, "_streamed_dir", lambda s, d: sdir)
    monkeypatch.setattr(im, "MERGE_TRIGGER_SEGMENTS", 1)
    row = im.stream_index_maintenance_drain(spark, sf_dir).collect()[0]
    assert row["n_batches"] == im.N_STREAM_BATCHES
    assert row["compactions_triggered"] == im.N_STREAM_BATCHES
    assert row["pending_after"] == 0
    assert row["live_set_preserved"] is True
    assert row["merge_io_bounded"] is True
    assert row["cells_within_geometry"] is True
    # the chain must be exercised: at least two fold manifests share a
    # cell (the delivery waves hit overlapping cells by construction)
    mans = [
        {
            int(r["cell"])
            for r in spark.read.parquet(f"{sdir}/merged_v{v}/manifest")
            .collect()
        }
        for v in (2, 3, 4)
    ]
    assert any(a & b for i, a in enumerate(mans) for b in mans[i + 1 :])
    # and the versioned reader must still answer exactly like the
    # flat segment-stack reader
    view, _s, d = im._maintained_reader_postings(spark, sf_dir)
    base = spark.read.parquet(f"{d}/postings").select("cell", "vec_id", "v")
    flat = base
    for k in range(im.N_STREAM_BATCHES):
        flat = flat.unionByName(
            spark.read.parquet(f"{sdir}/delta_b{k}/postings").select(
                "cell", "vec_id", "v"
            )
        )
    cent_df = spark.read.parquet(f"{d}/centroids")
    nprobe = int(
        spark.read.parquet(f"{d}/insert_delta/meta").collect()[0]["nprobe"]
    )
    e = sim.load_tables(spark, sf_dir, names=("embeddings",))["embeddings"]
    queries = e.filter(F.col("vec_id") < sim.N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )
    a = sorted(
        map(
            tuple,
            sim._probe_and_rank(cent_df, nprobe, queries, view).collect(),
        )
    )
    b = sorted(
        map(
            tuple,
            sim._probe_and_rank(cent_df, nprobe, queries, flat).collect(),
        )
    )
    assert a == b and len(a) > 0


def test_delete_drain_summary_invariants(spark, sf_dir):
    row = im.stream_index_delete_drain(spark, sf_dir).collect()[0]
    d = im._base_dir(spark, sf_dir)
    base = spark.read.parquet(f"{d}/postings")
    n_requests = base.filter(
        (F.col("vec_id") % im.DELETE_WAVE_MOD).isin(
            list(im.DELETE_WAVE_REMS)
        )
    ).count()
    assert row["n_delete_requests"] == n_requests > 0
    assert row["n_batches"] == len(im.DELETE_WAVE_REMS)
    assert row["compactions_triggered"] == 1
    assert row["pending_after"] == 1
    assert row["live_set_correct"] is True
    assert row["fold_io_bounded"] is True
    assert row["cells_within_geometry"] is True


def test_delete_reader_equals_direct_antijoin(spark, sf_dir):
    """The versioned delete reader (folded cells from v2, pending
    tombstones masked at query time) must produce exactly the same
    posting set as the naive base-minus-all-tombstones anti-join."""
    reader, ddir, d = im._delete_reader_postings(spark, sf_dir)
    base = spark.read.parquet(f"{d}/postings").select("cell", "vec_id", "v")
    tomb = None
    for k in range(len(im.DELETE_WAVE_REMS)):
        ids = spark.read.parquet(f"{ddir}/tomb_b{k}/ids")
        tomb = ids if tomb is None else tomb.unionByName(ids)
    naive = base.join(F.broadcast(tomb), "vec_id", "left_anti")
    a = sorted(r["vec_id"] for r in reader.select("vec_id").collect())
    b = sorted(r["vec_id"] for r in naive.select("vec_id").collect())
    assert a == b and len(a) > 0
    plan = reader._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_delete_torn_run_replays_idempotently(spark, sf_dir):
    """Rip the completion marker, one tombstone meta, and the fold
    manifest off a completed delete stream: re-entry must replay
    deterministically and the reader's live set must be unchanged."""
    import shutil

    im.stream_index_delete_drain(spark, sf_dir).collect()
    ddir = im._delete_dir(spark, sf_dir).removeprefix("file:")
    reader, _dd, _d = im._delete_reader_postings(spark, sf_dir)
    pre = sorted(r["vec_id"] for r in reader.select("vec_id").collect())
    shutil.rmtree(f"{ddir}/final_manifest")
    shutil.rmtree(f"{ddir}/tomb_b2/meta")
    shutil.rmtree(f"{ddir}/merged_v2/manifest")
    row = im.stream_index_delete_drain(spark, sf_dir).collect()[0]
    assert row["compactions_triggered"] == 1
    assert row["live_set_correct"] is True
    reader2, _dd2, _d2 = im._delete_reader_postings(spark, sf_dir)
    post = sorted(r["vec_id"] for r in reader2.select("vec_id").collect())
    assert post == pre


def test_torn_run_replays_idempotently(drained, spark, sf_dir):
    """Crash consistency of the written-last discipline: rip off the
    completion marker, one segment's meta (a torn segment commit) AND
    the fold's manifest (a torn fold commit) — re-entry must replay
    the stream idempotently (every artifact write is a deterministic
    overwrite) and the maintained index must answer bit-identically.
    Keep this test LAST in the file: it rebuilds the shared artifacts."""
    import shutil

    sdir = im._streamed_dir(spark, sf_dir).removeprefix("file:")
    pre = sorted(
        map(tuple, im.stream_maintained_index_topk(spark, sf_dir).collect())
    )
    shutil.rmtree(f"{sdir}/final_manifest")
    shutil.rmtree(f"{sdir}/delta_b2/meta")
    shutil.rmtree(f"{sdir}/merged_v2/manifest")
    row = im.stream_index_maintenance_drain(spark, sf_dir).collect()[0]
    assert row["n_batches"] == im.N_STREAM_BATCHES
    assert row["compactions_triggered"] == 1
    assert row["live_set_preserved"] is True
    post = sorted(
        map(tuple, im.stream_maintained_index_topk(spark, sf_dir).collect())
    )
    assert post == pre


def test_asof_batch_states_strictly_nest(drained, spark, sf_dir):
    prev = None
    for b in range(im.N_STREAM_BATCHES):
        cur = {
            r["vec_id"]
            for r in im.read_streamed_index_asof(spark, sf_dir, b)
            .select("vec_id")
            .collect()
        }
        if prev is not None:
            assert prev < cur
        prev = cur
    # the head as-of state IS the maintained reader view
    view, _s, _d = im._maintained_reader_postings(spark, sf_dir)
    assert prev == {r["vec_id"] for r in view.select("vec_id").collect()}


def test_asof_batch_folds_invisible_at_every_batch(drained, spark, sf_dir):
    """At every batch, the fold-applied as-of reader must equal the
    flat base + delta_b0..b stack row-for-row (with cells)."""
    sdir, d = im._ensure_streamed_index(spark, sf_dir)
    base = spark.read.parquet(f"{d}/postings").select("cell", "vec_id")
    for b in range(im.N_STREAM_BATCHES):
        flat = base
        for k in range(b + 1):
            flat = flat.unionByName(
                spark.read.parquet(f"{sdir}/delta_b{k}/postings").select(
                    "cell", "vec_id"
                )
            )
        asof = im.read_streamed_index_asof(spark, sf_dir, b).select(
            "cell", "vec_id"
        )
        assert sorted(map(tuple, asof.collect())) == sorted(
            map(tuple, flat.collect())
        )


def test_asof_batch_unknown_raises(drained, spark, sf_dir):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not in the committed stream"):
        im.read_streamed_index_asof(spark, sf_dir, im.N_STREAM_BATCHES + 5)


def test_stream_vacuum_contract_and_idempotence(drained, spark, sf_dir):
    a = im.stream_index_vacuum(spark, sf_dir).collect()[0]
    assert a["reader_digest_unchanged"]
    assert a["only_folded_deleted"]
    assert a["pending_intact"]
    assert a["asof_prefold_fails"]
    b = im.stream_index_vacuum(spark, sf_dir).collect()[0]
    assert a == b


def test_stream_vacuum_leaves_shared_store_intact(drained, spark, sf_dir):
    """The copy-on-write clone must not touch the shared streamed dir:
    every delta segment and the as-of history stay readable there."""
    im.stream_index_vacuum(spark, sf_dir)
    sdir, _d = im._ensure_streamed_index(spark, sf_dir)
    for k in range(im.N_STREAM_BATCHES):
        assert (
            spark.read.parquet(f"{sdir}/delta_b{k}/postings").count() > 0
        )
    # pre-fold as-of reads still work on the SHARED store
    assert im.read_streamed_index_asof(spark, sf_dir, 0).count() > 0


def test_stream_vacuum_torn_run_replays(drained, spark, sf_dir):
    import json
    import os

    first = im.stream_index_vacuum(spark, sf_dir).collect()[0]
    sdir, _d = im._ensure_streamed_index(spark, sf_dir)
    vroot = f"{sdir.removeprefix('file:')}_vacuumed"
    os.remove(f"{vroot}/vacuum_done")
    replay = im.stream_index_vacuum(spark, sf_dir).collect()[0]
    assert replay == first
    with open(f"{vroot}/vacuum_done") as fh:
        assert json.load(fh)["deleted"] == ["delta_b0", "delta_b1"]


def test_retention_drain_summary_invariants(spark, sf_dir):
    """Scheduled per-batch GC (r12 Next #5): tallies pinned by the
    deterministic schedule, live set + values intact, folded deltas
    gone, pending delta untouched."""
    row = im.stream_index_retention_drain(spark, sf_dir).collect()[0]
    e = sim.load_tables(spark, sf_dir, names=("embeddings",))["embeddings"]
    n_delivery = e.filter(
        F.col("vec_id") % sim.DELIVERY_MOD == sim.DELIVERY_MOD - 1
    ).count()
    assert row["n_delivery"] == n_delivery
    assert (row["n_gc_b0"], row["n_gc_b1"], row["n_gc_b2"]) == (0, 2, 0)
    assert row["live_set_preserved"] is True
    assert row["values_intact"] is True
    assert row["pending_intact"] is True
    assert row["folded_deleted"] is True
    # idempotent: a second call recomputes from the persisted store
    again = im.stream_index_retention_drain(spark, sf_dir).collect()[0]
    assert tuple(again) == tuple(row)


def test_retention_tallies_committed_every_batch(spark, sf_dir):
    """The policy provably evaluated EVERY batch: a gc tally file per
    micro-batch, empty tallies included."""
    import json

    im.stream_index_retention_drain(spark, sf_dir).collect()
    root = im._gc_instance_dir(spark, sf_dir).removeprefix("file:")
    for k in range(im.N_STREAM_BATCHES):
        with open(f"{root}/gc_b{k}") as fh:
            doc = json.load(fh)
        assert doc["deleted"] == (
            ["delta_b0", "delta_b1"] if k == 1 else []
        )


def test_retention_instance_leaves_default_instance_intact(spark, sf_dir):
    """The scheduled-GC instance runs in its own store; the default
    instance keeps its full as-of history."""
    im.stream_index_retention_drain(spark, sf_dir).collect()
    sdir, _d = im._ensure_streamed_index(spark, sf_dir)
    for k in range(im.N_STREAM_BATCHES):
        assert (
            spark.read.parquet(f"{sdir}/delta_b{k}/postings").count() > 0
        )


def test_stream_asof_brute_equals_flat_brute(spark, sf_dir):
    """The streamed as-of-b1 exact search must equal the brute force
    over the flat base + delta_b0 + delta_b1 stack bit-for-bit — the
    fold is invisible to the historical QUERY surface, not just the
    membership audit."""
    from customer_revenue_analysis_sql_tableau_spark.operators.similarity import (
        brute_topk_over_live,
    )

    sdir, d = im._ensure_streamed_index(spark, sf_dir)
    flat = spark.read.parquet(f"{d}/postings").select("vec_id", "v")
    for k in range(2):
        flat = flat.unionByName(
            spark.read.parquet(f"{sdir}/delta_b{k}/postings").select(
                "vec_id", "v"
            )
        )
    a = sorted(
        map(tuple, im.stream_asof_b1_brute_topk(spark, sf_dir).collect())
    )
    b = sorted(map(tuple, brute_topk_over_live(flat).collect()))
    assert a == b and len(a) == sim.N_QUERIES * sim.TOP_K


def test_stream_vacuum_clone_of_a_rebuilt_store_restages(drained, spark, sf_dir):
    """A vacuumed clone staged from an earlier build of the shared store
    (its digest_pre records another source fingerprint and that store's
    digest) must re-stage from the current store instead of reporting on
    the old one."""
    import json

    first = im.stream_index_vacuum(spark, sf_dir).collect()[0]
    sdir, _d = im._ensure_streamed_index(spark, sf_dir)
    vroot = f"{sdir.removeprefix('file:')}_vacuumed"
    with open(f"{vroot}/digest_pre") as fh:
        doc = json.load(fh)
    doc["src"] = "0" * 8
    doc["dig"] = doc["dig"] ^ 1
    with open(f"{vroot}/digest_pre", "w") as fh:
        json.dump(doc, fh)
    replay = im.stream_index_vacuum(spark, sf_dir).collect()[0]
    assert replay == first
    assert replay["reader_digest_unchanged"]


def test_stream_vacuum_stale_digest_format_restages(drained, spark, sf_dir):
    """A vacuumed clone whose persisted digest_pre predates the digest
    column set (e.g. pre-r13 artifacts without the vector column) must
    re-stage instead of comparing incompatible digests."""
    import json
    import os

    first = im.stream_index_vacuum(spark, sf_dir).collect()[0]
    sdir, _d = im._ensure_streamed_index(spark, sf_dir)
    vroot = f"{sdir.removeprefix('file:')}_vacuumed"
    with open(f"{vroot}/digest_pre") as fh:
        doc = json.load(fh)
    assert doc["cols"] == ["vec_id", "cell", "v"]
    doc.pop("cols")  # simulate an old-format clone
    doc["dig"] = doc["dig"] ^ 1  # and a digest the new formula won't hit
    with open(f"{vroot}/digest_pre", "w") as fh:
        json.dump(doc, fh)
    replay = im.stream_index_vacuum(spark, sf_dir).collect()[0]
    assert replay == first
    assert replay["reader_digest_unchanged"]
    assert os.path.exists(f"{vroot}/vacuum_done")

"""Small-file compaction (r11): shuffle-free bin-pack, row/content
preservation, layout invariants."""

from __future__ import annotations

import pytest

from customer_revenue_analysis_sql_tableau_spark.catalog import source_fingerprint
from customer_revenue_analysis_sql_tableau_spark.session import scoped_conf
from customer_revenue_analysis_sql_tableau_spark.sources import compaction as cp


@pytest.fixture(scope="module")
def summary(spark, sf_dir):
    return cp.parquet_compact_small_files(spark, sf_dir).collect()[0]


def test_summary_invariants(summary, spark, sf_dir):
    from customer_revenue_analysis_sql_tableau_spark.catalog import load_tables

    docs = load_tables(spark, sf_dir, names=("documents",))["documents"]
    assert summary["n_rows"] == docs.count()
    assert summary["rows_preserved"] is True
    assert summary["content_preserved"] is True
    assert summary["files_reduced"] is True
    assert summary["target_respected"] is True


def test_compaction_plan_is_shuffle_free(summary, spark, sf_dir):
    """The bin-pack must be a narrow coalesce: no Exchange anywhere in
    the write plan (clustering rewrites are zorder.py's job and pay
    their shuffle deliberately — plain compaction must not)."""
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    staged = f"{warehouse}/compact_stage_{source_fingerprint(sf_dir)}"
    df = spark.read.parquet(staged).coalesce(3)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Coalesce" in plan


def test_compact_dataset_respects_floor_and_cap(spark, sf_dir, tmp_path):
    """Tiny input packs to exactly 1 file; a target smaller than every
    file still cannot SPLIT (coalesce caps at input partitions)."""
    from customer_revenue_analysis_sql_tableau_spark.catalog import load_tables

    docs = load_tables(spark, sf_dir, names=("documents",))["documents"]
    src = str(tmp_path / "frag")
    docs.limit(20).repartition(8).write.parquet(src)
    dst = str(tmp_path / "packed")
    n = cp.compact_dataset(spark, src, dst, target_bytes=1 << 30)
    assert n == 1
    assert cp._parquet_file_count(dst) == 1
    # pathological 1-byte target: ceil(bytes/1) >> 8 partitions, but
    # the rewrite must stay 1:1 with the 8 inputs, never wider
    dst2 = str(tmp_path / "packed2")
    cp.compact_dataset(spark, src, dst2, target_bytes=1)
    assert cp._parquet_file_count(dst2) <= 8


def test_idempotent_recompaction(summary, spark, sf_dir):
    row = cp.parquet_compact_small_files(spark, sf_dir).collect()[0]
    assert tuple(row) == tuple(summary)


# ---------------------------------------------------------------------------
# Partitioned-table compaction (r12)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def part_summary(spark, sf_dir):
    return cp.parquet_compact_partitioned(spark, sf_dir).collect()[0]


def test_partitioned_summary_invariants(part_summary, spark, sf_dir):
    from customer_revenue_analysis_sql_tableau_spark.catalog import load_tables

    orders = load_tables(spark, sf_dir, names=("orders",))["orders"]
    assert part_summary["n_rows"] == orders.count()
    assert part_summary["boundaries_preserved"] is True
    assert part_summary["content_preserved"] is True
    assert part_summary["selected_packed"] is True
    assert part_summary["untouched_intact"] is True
    assert 0 < part_summary["n_selected"] < part_summary["n_partitions"]


def test_partitioned_layout_in_place(part_summary, spark, sf_dir):
    """Selected partitions pack to a single file at fixture sizes;
    unselected keep the staged fragmentation — the pass never leaves
    its partition directory."""
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    staged = f"{warehouse}/compact_part_{source_fingerprint(sf_dir)}"
    from customer_revenue_analysis_sql_tableau_spark.sources.parquet import (
        MONTH_COL,
    )

    pre = {
        r[MONTH_COL]: r["files"]
        for r in spark.read.parquet(f"{staged}_pre").collect()
    }
    for m in cp._partition_dirs(staged):
        n = cp._parquet_file_count(f"{staged}/{MONTH_COL}={m}")
        if m < cp.PART_COMPACT_CUTOFF:
            assert n == 1 <= pre[m]
        else:
            # sparse months stage fewer than PART_STAGE_FILES (a
            # round-robin task holding no row for a month writes no
            # file); untouched means UNCHANGED, not a fixed count
            assert n == pre[m]
    assert any(
        pre[m] > 1
        for m in cp._partition_dirs(staged)
        if m < cp.PART_COMPACT_CUTOFF
    )  # the pack demonstrably reduced at least one selected partition


def test_partitioned_dpp_survives_compaction(part_summary, spark, sf_dir):
    """Dynamic partition pruning must still plant its filter on the
    compacted tree, and the pruned join must count exactly like the
    unpruned one."""
    import pyspark.sql.functions as F

    from customer_revenue_analysis_sql_tableau_spark.catalog import load_tables
    from customer_revenue_analysis_sql_tableau_spark.sources.parquet import (
        MONTH_COL,
    )

    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    staged = f"{warehouse}/compact_part_{source_fingerprint(sf_dir)}"
    po = spark.read.parquet(staged)
    li = load_tables(spark, sf_dir, names=("lineitem",), register=False)[
        "lineitem"
    ]
    dim = (
        li.filter(F.col("l_returnflag") == "R")
        .select(F.date_format("l_shipdate", "yyyy-MM").alias(MONTH_COL))
        .distinct()
        .filter(F.col(MONTH_COL) < "1995-07")
    )
    j = po.join(dim, MONTH_COL).groupBy(MONTH_COL).count()
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression" in plan
    pruned = sorted(map(tuple, j.collect()))
    with scoped_conf(
        spark, {"spark.sql.optimizer.dynamicPartitionPruning.enabled": "false"}
    ):
        unpruned = sorted(
            map(
                tuple,
                po.join(dim, MONTH_COL).groupBy(MONTH_COL).count().collect(),
            )
        )
    assert pruned == unpruned and len(pruned) > 0


def test_partitioned_torn_run_replays(part_summary, spark, sf_dir):
    """Ripping the completion marker off replays the pack
    deterministically against the ORIGINAL persisted pre-state."""
    import os

    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    staged = f"{warehouse}/compact_part_{source_fingerprint(sf_dir)}"
    marker = os.path.join(staged.removeprefix("file:"), "_compacted")
    os.remove(marker)
    replay = cp.parquet_compact_partitioned(spark, sf_dir).collect()[0]
    assert replay == part_summary


def test_pack_partition_inplace_torn_swap_replays(spark, sf_dir, tmp_path):
    """Kill the swap at every prefix of phase B and replay: the
    partition must converge to exactly the packed content — the naive
    delete-then-move swap lost rows for good when the process died
    between the delete and the move."""
    import os
    import shutil

    import pyspark.sql.functions as F

    src = str(tmp_path / "part")
    spark.range(500).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    ).repartition(6).write.parquet(src)
    expected = sorted(
        map(tuple, spark.read.parquet(src).collect())
    )

    # run phase A only, then simulate a torn phase B: delete one OLD
    # file and move one incoming file in, then crash (return) — replay
    # via the public function must converge
    pack = str(tmp_path / "pack")
    cp.compact_dataset(spark, src, pack)
    import json

    names = sorted(
        f for f in os.listdir(pack) if f.endswith(".parquet")
    )
    with open(os.path.join(pack, "_incoming"), "w") as fh:
        json.dump(names, fh)
    old = [f for f in os.listdir(src) if f.endswith(".parquet")]
    os.remove(os.path.join(src, old[0]))  # partial delete
    shutil.move(
        os.path.join(pack, names[0]),
        os.path.join(src, f"packed-{names[0]}"),
    )  # partial move-in; "crash" here
    cp._pack_partition_inplace(spark, src, pack)  # replay
    got = sorted(map(tuple, spark.read.parquet(src).collect()))
    assert got == expected
    assert not os.path.exists(pack)
    files = [f for f in os.listdir(src) if f.endswith(".parquet")]
    assert files and all(f.startswith("packed-") for f in files)

    # replay after completion (pack dir gone): re-packs 1:1, content identical
    cp._pack_partition_inplace(spark, src, pack)
    assert sorted(map(tuple, spark.read.parquet(src).collect())) == expected


def test_pack_partition_truncated_manifest_reenters_phase_a(
    spark, sf_dir, tmp_path
):
    """A truncated ``_incoming`` manifest (a crash mid-write by an
    OLD, pre-atomic writer) must re-enter phase A instead of failing
    every replay with JSONDecodeError (r12 ADVICE; new writes are
    rename-committed and can't tear, but replay must tolerate legacy
    debris)."""
    import json
    import os

    import pyspark.sql.functions as F

    src = str(tmp_path / "part")
    spark.range(200).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    ).repartition(4).write.parquet(src)
    expected = sorted(map(tuple, spark.read.parquet(src).collect()))

    pack = str(tmp_path / "pack")
    cp.compact_dataset(spark, src, pack)
    with open(os.path.join(pack, "_incoming"), "w") as fh:
        fh.write('["part-')  # truncated JSON
    cp._pack_partition_inplace(spark, src, pack)  # must not raise
    got = sorted(map(tuple, spark.read.parquet(src).collect()))
    assert got == expected
    assert not os.path.exists(pack)

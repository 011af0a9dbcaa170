"""Registry hygiene: every query is oracle-checked unless it is on the
explicit rows-only allowlist with a structural reason. A new operator
landing without an oracle fails here instead of silently weakening the
correctness gate.
"""

from __future__ import annotations

from pathlib import Path

import __spark_entry__ as entrymod

#: Entries that CANNOT have a value-hash oracle, and why. Keep this
#: list justified — "I didn't write one" is not a reason.
ROWS_ONLY_ALLOWED: dict[str, str] = {
    "approx_distinct_customers_by_nation": "HLL++ sketch tier — approximate by design, error-bound pytest",
    "feat_vocab_topk_sketch": "approx_top_k sketch tier — approximate by design",
    "temporal_value_percentiles_approx": "approx_percentile sketch tier — approximate by design",
    "sim_lsh_topk": "probabilistic recall — recall-floor pytest vs brute force",
    "sim_ivf_topk": "probabilistic recall — recall-floor pytest vs brute force",
    "sim_pq_topk": "probabilistic recall — recall-floor pytest vs brute force",
    "sim_ivfpq_topk": "probabilistic recall — recall-floor pytest vs brute force",
    "sim_incremental_ivf": "probabilistic recall — recall-floor pytest vs delivery brute force",
    "sim_delete_ivf_topk": "probabilistic recall — recall-floor pytest vs surviving-corpus brute force",
    "sim_persisted_ivf_topk": "probabilistic recall — recall-floor driver twin + equality pytest vs sim_ivf_topk",
    "sim_persisted_delete_ivf_topk": "probabilistic recall — recall-floor driver twin + equality pytest vs sim_delete_ivf_topk",
    "sim_persisted_delivery_topk": "probabilistic recall — recall-floor driver twin + equality pytest vs sim_incremental_ivf",
    "sim_persisted_pq_topk": "probabilistic recall — recall-floor driver twin + equality pytest vs sim_pq_topk",
    "sim_persisted_ivfpq_topk": "probabilistic recall — recall-floor driver twin + equality pytest vs sim_ivfpq_topk",
    "stream_maintained_index_topk": "probabilistic recall — recall-floor driver twin stream_maintained_recall_check + segment-stack bit-identity pytest",
    "text_bpe_tokenize_deep": "512-merge vocabulary has no tractable SQL replay — hash-green bound twin text_bpe_deep_compression_bound + persisted-read-path pytest",
    "emb_pca_project": "eigenvectors are sign/rotation-ambiguous across LAPACK builds — hash-green Gramian + emb_pca_variance_check twins + orthonormality/variance-order pytest",
    # multimodal_resize / multimodal_frame_sample were here ("binary
    # payload output") until round 3: on the ASCII corpus DuckDB can
    # rebuild the byte slices exactly, so both are now hash-checked.
}


def test_every_query_is_oracle_checked_or_justified():
    queries = set(entrymod.queries())
    oracles = set(entrymod.oracle_sql())
    unjustified = queries - oracles - set(ROWS_ONLY_ALLOWED)
    assert not unjustified, (
        f"entries without an oracle or an allowlist justification: "
        f"{sorted(unjustified)}"
    )
    # the allowlist must not rot: no justified entry may be missing
    # from the registry, and none may (now) have an oracle
    ghost = set(ROWS_ONLY_ALLOWED) - queries
    assert not ghost, f"allowlisted entries not in the registry: {sorted(ghost)}"
    upgraded = set(ROWS_ONLY_ALLOWED) & oracles
    assert not upgraded, (
        f"entries gained oracles — remove from allowlist: {sorted(upgraded)}"
    )


def test_oracles_reference_registered_queries_only():
    extra = set(entrymod.oracle_sql()) - set(entrymod.queries())
    assert not extra, f"oracles without a query: {sorted(extra)}"


def test_priority_names_exist():
    """Every _PRIORITY name must be a real registry entry (a typo'd or
    removed name would silently waste a slot of the driver's budgeted
    correctness window), and the prioritized view must lose nothing."""
    merged: dict = {}
    for mod in entrymod._REGISTRY_MODULES:
        merged.update(mod.QUERIES)
    missing = [n for n in entrymod._PRIORITY if n not in merged]
    assert not missing, f"_PRIORITY names not in registry: {missing}"
    assert len(entrymod._PRIORITY) == len(set(entrymod._PRIORITY))
    assert set(entrymod.queries()) == set(merged)
    # priority entries actually lead the walk order
    assert list(entrymod.queries())[: len(entrymod._PRIORITY)] == entrymod._PRIORITY


def test_no_oracle_emits_hugeint():
    """DuckDB types ``sum()`` over integers as HUGEINT; Spark returns
    BIGINT, and the driver's value hash is type-sensitive — this exact
    class shipped red in rounds 1 AND 2 (VERDICT.md r2, "What's wrong").
    Bind every oracle with DESCRIBE (no execution) and reject any
    HUGEINT/UHUGEINT output column: the fix is always
    ``CAST(sum(...) AS BIGINT)`` at the emitting site.
    """
    import sys

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    from oracle_check import duckdb_connection

    con = duckdb_connection("/root/testdata/sf0.001")
    try:
        offenders: list[str] = []
        for name, sql in sorted(entrymod.oracle_sql().items()):
            schema = con.execute(f"DESCRIBE {sql}").fetchall()
            bad = [
                (col, typ)
                for col, typ, *_ in schema
                if "HUGEINT" in typ.upper()
            ]
            if bad:
                offenders.append(f"{name}: {bad}")
        assert not offenders, (
            "oracles emitting HUGEINT (un-cast integer aggregate): "
            + "; ".join(offenders)
        )
    finally:
        con.close()


def test_registry_plans_have_no_scale_red_flags(spark, sf_dir):
    """Sweep EVERY registry entry's physical plan ONCE and run every
    plan-wide hygiene rule on it: no CartesianProduct anywhere; every
    BroadcastNestedLoopJoin is on the documented bounded-side
    allowlist; no unpartitioned Window runs over unbounded input — the
    single-task global-sort class VERDICT.md r4 flagged
    (tools/registry_plan_scan.py) — and no row-at-a-time Python UDF
    (BatchEvalPython) in any oracle-checked query (formerly the
    separate sweep in test_plan_quality.py; merged r16 so the ~300
    expensive plan builds happen once per suite run, not twice)."""
    import sys

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    import __spark_entry__ as entrymod
    from registry_plan_scan import (
        BNLJ_ALLOWLIST,
        _oversized_global_window_caps,
        _unbounded_global_windows,
    )

    oracles = entrymod.oracle_sql()
    flags = {}
    for name, fn in entrymod.queries().items():
        plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        if "CartesianProduct" in plan:
            flags[name] = "CartesianProduct"
        elif "BroadcastNestedLoopJoin" in plan and name not in BNLJ_ALLOWLIST:
            flags[name] = "BNLJ not allowlisted"
        elif _unbounded_global_windows(plan):
            flags[name] = "unpartitioned Window over unbounded input"
        elif _oversized_global_window_caps(plan):
            flags[name] = "unpartitioned Window cap above the ceiling"
        elif name in oracles and "BatchEvalPython" in plan:
            # rows-only extension ops may use (Arrow) pandas UDFs; the
            # parity path must stay JVM-side row-at-a-time-free
            flags[name] = "row-at-a-time Python UDF (BatchEvalPython)"
    assert not flags, flags


def test_no_duplicate_file_scans_in_executed_plans(spark, sf_dir):
    """r16 (VERDICT item 8): the r15 one-off session audit — execute an
    entry, inspect the FINAL adaptive plan for the same file scanned
    twice (whatever AQE stage reuse did not collapse is a real extra
    pass over the data) — is now a standing gate via
    tools/registry_plan_scan.py::executed_duplicate_scans. CI runs the
    representative pure-read shapes (the full headline sweep runs via
    `python tools/registry_plan_scan.py --executed`, 0 flagged r16);
    dedup_edit_distance's 2-scan share is pinned by its own test."""
    import sys

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    from registry_plan_scan import executed_duplicate_scans

    qs = entrymod.queries()
    offenders = {}
    for name in (
        "flagship_revenue_by_region",
        "tpch_q1_pricing_summary",
        "tpch_q3_shipping_priority",
        "tpch_q9_product_type_profit",
        "tpch_q18_large_volume_customers",
        "tpch_q21_sole_late_supplier",
        "text_unigram_logprob",
        "text_ranked_search",
        "decontaminate_ngram_overlap",
        "dedup_ngram_jaccard",
        "corpus_pack_sequences",
        "temporal_asof_join",
    ):
        dups = executed_duplicate_scans(qs[name](spark, sf_dir))
        if dups:
            offenders[name] = dups
    assert not offenders, offenders


def test_global_window_detector_flags_the_r4_shape(spark, sf_dir):
    """The scan's window detector must fire on the exact shape round 4
    shipped (corpus-wide ntile with no PARTITION BY), stay quiet on a
    key-partitioned window, and stay quiet on a global window whose
    input a TakeOrdered top-K bounds — otherwise the registry sweep
    above passes vacuously."""
    import sys

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    from registry_plan_scan import _unbounded_global_windows

    from customer_revenue_analysis_sql_tableau_spark.operators.corpus import (
        _scored_docs,
    )

    def plan_of(df):
        return df._jdf.queryExecution().executedPlan().toString()

    scored = _scored_docs(spark, sf_dir)
    bad = scored.select(
        "doc_id",
        F.ntile(10)
        .over(Window.orderBy(F.desc("quality_score"), F.asc("doc_id")))
        .alias("d"),
    )
    assert _unbounded_global_windows(plan_of(bad))
    keyed = scored.select(
        "doc_id",
        F.row_number()
        .over(Window.partitionBy("doc_id").orderBy("quality_score"))
        .alias("r"),
    )
    assert not _unbounded_global_windows(plan_of(keyed))
    capped = (
        scored.orderBy("quality_score", "doc_id")
        .limit(5)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy("quality_score", "doc_id"))
            .alias("r"),
        )
    )
    assert not _unbounded_global_windows(plan_of(capped))
    # ADVICE r5: a join with only ONE limited side is still unbounded —
    # the marker scan must stop at the first branching node...
    gw = Window.orderBy("quality_score", "doc_id")
    tiny = scored.orderBy("quality_score", "doc_id").limit(5).select(
        F.col("doc_id").alias("tid")
    )
    half_limited = scored.join(
        tiny, scored["doc_id"] % 7 == tiny["tid"] % 7
    ).select("doc_id", F.row_number().over(gw).alias("r"))
    assert _unbounded_global_windows(plan_of(half_limited))
    # ...while a limit ABOVE the join bounds the join output and passes.
    join_capped = (
        scored.join(tiny, scored["doc_id"] % 7 == tiny["tid"] % 7)
        .limit(5)
        .select("doc_id", F.row_number().over(gw).alias("r"))
    )
    assert not _unbounded_global_windows(plan_of(join_capped))


def test_global_window_cap_size_is_a_checked_invariant(spark, sf_dir):
    """r8 Next #8: a single-partition window blessed by a limit below
    it must also have a SMALL limit — limit(5) passes, but a cap above
    GLOBAL_WINDOW_CAP_MAX flags even though it technically bounds the
    window (10M rows through one task is a volume, not a constant).
    The blessed ranked families (feat_vocab_coverage / bigram tops)
    must pass the new check on their real plans."""
    import sys

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    import __spark_entry__ as entrymod
    from registry_plan_scan import (
        GLOBAL_WINDOW_CAP_MAX,
        _oversized_global_window_caps,
        _unbounded_global_windows,
    )

    from customer_revenue_analysis_sql_tableau_spark.operators.corpus import (
        _scored_docs,
    )

    def plan_of(df):
        return df._jdf.queryExecution().executedPlan().toString()

    scored = _scored_docs(spark, sf_dir)
    gw = Window.orderBy("quality_score", "doc_id")
    small = (
        scored.orderBy("quality_score", "doc_id")
        .limit(5)
        .select("doc_id", F.row_number().over(gw).alias("r"))
    )
    assert not _oversized_global_window_caps(plan_of(small))
    big = (
        scored.orderBy("quality_score", "doc_id")
        .limit(GLOBAL_WINDOW_CAP_MAX + 1)
        .select("doc_id", F.row_number().over(gw).alias("r"))
    )
    assert not _unbounded_global_windows(plan_of(big))  # bounded, but...
    assert _oversized_global_window_caps(plan_of(big))  # ...oversized
    qs = entrymod.queries()
    for entry in ("feat_vocab_coverage", "feat_word_bigram_counts"):
        plan = plan_of(qs[entry](spark, sf_dir))
        assert not _unbounded_global_windows(plan), entry
        assert not _oversized_global_window_caps(plan), entry


def test_bench_headline_names_exist():
    """Every bench.py HEADLINE name must be a registry entry — a typo'd
    or renamed name silently drops a query from the recorded artifact
    and breaks round-over-round comparability."""
    import bench

    merged: dict = {}
    for mod in entrymod._REGISTRY_MODULES:
        merged.update(mod.QUERIES)
    missing = [n for n in bench.HEADLINE if n not in merged]
    assert not missing, f"HEADLINE names not in registry: {missing}"
    assert len(bench.HEADLINE) == len(set(bench.HEADLINE))


def test_session_conf_is_written_only_by_session_py():
    """Query paths change session confs only through
    ``session.scoped_conf`` (exact restore, one owner per key); a
    hand-rolled ``conf.set``/``conf.unset`` anywhere else in the package
    can leak state into every later query of a shared session."""
    pkg = Path(__file__).resolve().parents[1] / "customer_revenue_analysis_sql_tableau_spark"
    offenders = [
        f"{p.relative_to(pkg)}:{i}"
        for p in sorted(pkg.rglob("*.py"))
        if p.name != "session.py" or p.parent != pkg
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if "conf.set(" in line or "conf.unset(" in line
    ]
    assert not offenders, f"session conf written outside session.py: {offenders}"


def test_manifest_writes_stage_only_through_stage_and_land():
    """Manifest-table files land only through
    ``manifest_table.stage_and_land`` (a private ``_pack_tmp/<token>``
    per call) and matched files are found only by
    ``manifest_table.matched_files``: a hand-rolled staging path another
    writer can derive, or a wholesale ``_pack_tmp`` cleanup, destroys
    a concurrent writer's in-flight files."""
    pkg = Path(__file__).resolve().parents[1] / "customer_revenue_analysis_sql_tableau_spark"
    owner = pkg / "sources" / "manifest_table.py"
    owned = ("land_files(", "land_partitioned_files(", "F.input_file_name(", '"_pack_tmp"')
    offenders = [
        f"{p.relative_to(pkg)}:{i}: {tok}"
        for p in sorted(pkg.rglob("*.py"))
        for i, line in enumerate(p.read_text().splitlines(), 1)
        for tok in (*owned, "_stream_tmp")
        if tok in line and (p != owner or tok not in owned)
    ]
    assert not offenders, f"staging outside stage_and_land: {offenders}"
    assert owner.read_text().count("F.input_file_name(") == 1


def test_streams_start_only_through_session_drain():
    """Streams start only through ``session.drain`` (every query stopped
    on exit, also when a sibling fails), memory sinks are named only by
    ``session.drain_to_frame`` (a fresh name per call, view dropped on
    return), deliveries are mtime-stamped only by
    ``session.stage_deliveries``, and the file-stream schema is inferred
    in one place."""
    pkg = Path(__file__).resolve().parents[1] / "customer_revenue_analysis_sql_tableau_spark"
    owner = pkg / "session.py"
    owned = (
        "trigger(availableNow=True)", ".awaitTermination(", ".queryName(", "os.utime("
    )
    offenders = [
        f"{p.relative_to(pkg)}:{i}: {tok}"
        for p in sorted(pkg.rglob("*.py"))
        if p != owner
        for i, line in enumerate(p.read_text().splitlines(), 1)
        for tok in owned
        if tok in line
    ]
    assert not offenders, f"stream started or staged outside session.py: {offenders}"
    inferred = sum(
        p.read_text().count("read.parquet(source_dir).schema")
        for p in pkg.rglob("*.py")
    )
    assert inferred <= 1


def test_ann_tiers_share_one_quantizer():
    """The ANN tiers draw their training sample, assign nearest
    centroids, write and read centroids and rank the top k through one
    helper each in ``operators/similarity.py``: a second copy of the
    argmin or the tie order is how a persisted tier stops answering
    bit-for-bit like its in-process twin. The tokens are Python/Spark
    API spellings, so the DuckDB oracle SQL never matches them."""
    pkg = Path(__file__).resolve().parents[1] / "customer_revenue_analysis_sql_tableau_spark"
    once = (
        ".limit(IVF_TRAIN_SAMPLE)",
        '"cell int, cv array<double>"',
        "argmin(axis=1)",
        'F.desc("cosine"), F.asc("neighbor_id")',
        'orderBy("cell").collect()',
    )
    hits = {
        tok: [
            f"{p.relative_to(pkg)}:{i}"
            for p in sorted(pkg.rglob("*.py"))
            for i, line in enumerate(p.read_text().splitlines(), 1)
            if tok in line
        ]
        for tok in once
    }
    copies = {tok: where for tok, where in hits.items() if len(where) != 1}
    assert not copies, f"ANN helper written out more than once: {copies}"
    for rel in ("operators/similarity.py", "streaming/index_maintenance.py"):
        n = (pkg / rel).read_text().count('cast("array<double>").alias("v")')
        assert n <= 1, f"{rel}: {n} copies of the embeddings load"

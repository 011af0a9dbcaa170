"""Physical-plan assertions (SURVEY.md §4, §7.4.7): the scale posture
is part of the contract, not an aspiration. These tests freeze it:
dims broadcast, filters and projections reach the parquet scan,
semi/anti joins stay joins, and no row-at-a-time Python evaluation
appears anywhere in the parity path.
"""

from __future__ import annotations

from customer_revenue_analysis_sql_tableau_spark.app_layer import top_n_filter
from customer_revenue_analysis_sql_tableau_spark.catalog import load_tables
from customer_revenue_analysis_sql_tableau_spark.operators.queries import (
    flagship_revenue_by_region,
)
from customer_revenue_analysis_sql_tableau_spark.operators.relational import (
    parts_never_ordered_anti,
    tpch_q3_shipping_priority,
    top_nations_customers_semi,
)
from customer_revenue_analysis_sql_tableau_spark.operators.splits import (
    split_train_test,
)
from customer_revenue_analysis_sql_tableau_spark.operators.temporal import (
    asof_join_purchase_click,
    range_join_clicks_before_errors,
)
from customer_revenue_analysis_sql_tableau_spark.operators.tpch_complete import (
    tpch_q2_min_cost_supplier,
    tpch_q4_order_priority,
    tpch_q9_product_type_profit,
    tpch_q16_supplier_counts,
    tpch_q19_disjunctive_revenue,
    tpch_q20_dominant_promo_suppliers,
    tpch_q21_sole_late_supplier,
)
from customer_revenue_analysis_sql_tableau_spark.operators.tpch_extended import (
    tpch_q6_forecast_revenue,
    tpch_q8_market_share,
    tpch_q15_top_supplier,
    tpch_q17_small_quantity_revenue,
    tpch_q22_dormant_high_balance,
)
from customer_revenue_analysis_sql_tableau_spark.operators.warehouse import (
    customer_value_summary,
)
from customer_revenue_analysis_sql_tableau_spark.session import (
    checkpoint_layout,
    partition_count,
    scoped_conf,
)


def plan(df, mode: str = "formatted") -> str:
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


def test_flagship_broadcasts_dims_and_prunes_columns(spark, sf_dir):
    p = plan(flagship_revenue_by_region(spark, sf_dir))
    assert "BroadcastHashJoin" in p  # nation/region never shuffle
    assert "CartesianProduct" not in p
    # lineitem scan must read only the join key + revenue columns
    assert "l_extendedprice" in p and "l_comment" not in p
    # codegen mode enumerates fused pipelines (AQE's formatted plan
    # hides them pre-execution)
    df = flagship_revenue_by_region(spark, sf_dir)
    assert "WholeStageCodegen" in plan(df, "codegen")


def test_view_reads_only_needed_columns(spark, sf_dir):
    p = plan(customer_value_summary(spark, sf_dir))
    # column pruning: lineitem has more columns than the view touches
    for needed in ("l_orderkey", "l_partkey", "l_extendedprice", "l_discount",
                   "l_shipdate", "l_linenumber"):
        assert needed in p
    assert "l_comment" not in p and "l_tax" not in p
    # geo dims ride broadcast exchanges, never a shuffle
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_selective_filter_pushes_down(spark, sf_dir):
    p = plan(tpch_q3_shipping_priority(spark, sf_dir))
    assert "PushedFilters:" in p
    # the segment/date predicates must reach a scan, not sit in a
    # post-scan Filter only
    assert any(
        tok in p for tok in ("GreaterThan", "LessThan", "EqualTo")
    ), "no comparison predicate reached the parquet scan"


def test_semi_and_anti_joins_stay_joins(spark, sf_dir):
    assert "LeftSemi" in plan(top_nations_customers_semi(spark, sf_dir))
    assert "LeftAnti" in plan(parts_never_ordered_anti(spark, sf_dir))


def test_top_n_filter_is_semi_join(spark, sf_dir):
    part = load_tables(spark, sf_dir, names=("part",))["part"]
    p = plan(top_n_filter(part, "p_brand", 5))
    assert "LeftSemi" in p
    assert "TakeOrderedAndProject" in p  # top-k, not a full sort


def test_split_prunes_to_key_column(spark, sf_dir):
    """The hash split derives everything from doc_id — the scan must
    read doc_id ALONE (reading `text` here would drag the widest column
    of a 100 TB corpus through a projection that never uses it)."""
    p = plan(split_train_test(spark, sf_dir))
    assert "ReadSchema: struct<doc_id:bigint>" in p
    assert "text" not in p.split("ReadSchema")[1][:200]


def test_asof_join_is_window_not_pairwise(spark, sf_dir):
    """The as-of join must compile to union + window (shuffle on
    user_id), never a join operator — any pairwise form is quadratic in
    per-user history."""
    p = plan(asof_join_purchase_click(spark, sf_dir))
    assert "Window" in p
    assert "Join" not in p
    assert "CartesianProduct" not in p


def test_range_join_is_hash_join_not_nested_loop(spark, sf_dir):
    """The binned range join must stay an equi hash join with the range
    predicate as a residual condition — BroadcastNestedLoopJoin here
    means the binning failed and the plan is O(errors × clicks)."""
    p = plan(range_join_clicks_before_errors(spark, sf_dir))
    assert "NestedLoop" not in p
    assert "CartesianProduct" not in p
    assert "HashJoin" in p


def test_q6_predicates_reach_the_scan(spark, sf_dir):
    """Q6 is scan-bound by design: all three predicates (date range,
    discount band, quantity cap) must push into the parquet source so a
    100 TB scan skips row groups on min/max stats."""
    p = plan(tpch_q6_forecast_revenue(spark, sf_dir))
    assert "PushedFilters:" in p
    assert "l_quantity" in p.split("PushedFilters")[1][:400]
    # projection pruned to the four columns the query touches
    assert "l_orderkey" not in p.split("ReadSchema")[1][:300]


def test_q8_and_q15_broadcast_small_sides(spark, sf_dir):
    """Q8's five dims and Q15's 1-row max must ride broadcast exchanges;
    a shuffle of nation/region/supplier/part (or of a scalar!) would
    serialize the whole plan on exchange latency at scale."""
    for df in (tpch_q8_market_share(spark, sf_dir),
               tpch_q15_top_supplier(spark, sf_dir)):
        p = plan(df)
        assert "BroadcastHashJoin" in p
        assert "CartesianProduct" not in p


def test_q17_decorrelated_avg_is_single_reaggregation(spark, sf_dir):
    """The per-part average subquery must appear as ONE aggregate over
    lineitem joined back — not a correlated per-row re-scan. Plan shows
    exactly two lineitem scans (outer + partial agg), no nested loop."""
    import re

    p = plan(tpch_q17_small_quantity_revenue(spark, sf_dir))
    assert "NestedLoop" not in p and "CartesianProduct" not in p
    scans = re.findall(r"\(\d+\) Scan parquet", p)
    assert len(scans) == 3  # lineitem ×2 (outer + partial agg) + part ×1


def test_q22_dormancy_is_anti_join(spark, sf_dir):
    p = plan(tpch_q22_dormant_high_balance(spark, sf_dir))
    assert "LeftAnti" in p
    assert "NestedLoop" not in p or "BuildRight" in p  # scalar stats may BNLJ a 1-row side


def test_q4_exists_is_semi_join(spark, sf_dir):
    """Q4's EXISTS must plan as a LEFT SEMI join (one pass over each
    side), never a per-order correlated re-scan of lineitem."""
    p = plan(tpch_q4_order_priority(spark, sf_dir))
    assert "LeftSemi" in p
    assert "NestedLoop" not in p and "CartesianProduct" not in p


def test_q21_quantifiers_fold_into_one_window_pass(spark, sf_dir):
    """Q21's EXISTS/NOT-EXISTS pair must run as per-order WINDOW
    aggregates over ONE pass of the fact (r15): a single lineitem scan
    and a single l_orderkey exchange, never the semi/anti-join form
    whose big exchange carried the unfiltered fact three scans wide —
    and never a per-row re-scan."""
    p = plan(tpch_q21_sole_late_supplier(spark, sf_dir))
    assert "Window" in p
    assert "CartesianProduct" not in p and "NestedLoop" not in p
    assert p.count("lineitem.parquet") == 1  # one fact scan
    assert "LeftSemi" not in p and "LeftAnti" not in p


def test_q16_not_in_is_anti_join(spark, sf_dir):
    p = plan(tpch_q16_supplier_counts(spark, sf_dir))
    assert "LeftAnti" in p
    assert "BroadcastHashJoin" in p  # part filter + exclusion list broadcast


def test_q19_disjunction_keeps_equi_join(spark, sf_dir):
    """The OR-of-ANDs predicate must NOT break the partkey equi-join
    into a cartesian product: Catalyst extracts the common equi-key and
    evaluates the disjunction as a post-join residual."""
    p = plan(tpch_q19_disjunctive_revenue(spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p and "NestedLoop" not in p


def test_q2_q9_q20_broadcast_their_dims(spark, sf_dir):
    """Part/supplier/nation dims must ride broadcast exchanges in the
    decorrelated min-cost (q2), profit rollup (q9), and dominant-share
    (q20) plans; only fact-side aggregates may shuffle."""
    for df in (
        tpch_q2_min_cost_supplier(spark, sf_dir),
        tpch_q9_product_type_profit(spark, sf_dir),
        tpch_q20_dominant_promo_suppliers(spark, sf_dir),
    ):
        p = plan(df)
        assert "BroadcastHashJoin" in p
        assert "CartesianProduct" not in p


# NOTE r16: the registry-wide no-BatchEvalPython sweep moved into
# tests/test_registry_hygiene.py::test_registry_plans_have_no_scale_red_flags
# — both sweeps built all ~300 entry plans (165 s each); merged they
# build once. Coverage is identical (same predicate over the same set).


def test_bm25_topk_is_take_ordered_single_tokenize(spark, sf_dir):
    """Ranked retrieval must end in TakeOrderedAndProject (per-partition
    heads + merge, never a global sort) and the scored pass must not
    re-inline the tokenizer into the pushed-down filter (one split for
    the scan predicate, one for the projection, one for stats)."""
    from customer_revenue_analysis_sql_tableau_spark.operators.text import (
        text_ranked_search,
    )

    p = plan(text_ranked_search(spark, sf_dir), mode="simple")
    assert "TakeOrderedAndProject" in p
    assert "Sort " not in p  # no global sort for a top-k
    assert p.count("split(trim(lower") <= 3
    assert "BatchEvalPython" not in p


def test_dedup_and_ann_candidates_are_never_all_pairs(spark, sf_dir):
    """The 100 TB contract of the dedup/ANN family: candidate
    generation is always a bucket/block equi-join — no CartesianProduct
    anywhere, and the only nested-loop join allowed is IVF's bounded
    query×centroid probe (Q rows × nlist centroids, both tiny)."""
    from customer_revenue_analysis_sql_tableau_spark.operators.dedup import (
        dedup_embedding_cosine,
        dedup_minhash_lsh,
        dedup_ngram_jaccard,
        dedup_simhash,
    )
    from customer_revenue_analysis_sql_tableau_spark.operators.similarity import (
        sim_ivf_topk,
        sim_lsh_topk,
    )

    for fn in (
        dedup_minhash_lsh,
        dedup_simhash,
        dedup_ngram_jaccard,
        dedup_embedding_cosine,
        sim_lsh_topk,
    ):
        p = plan(fn(spark, sf_dir), mode="simple")
        assert "CartesianProduct" not in p, fn.__name__
        assert "BroadcastNestedLoopJoin" not in p, fn.__name__

    p = plan(sim_ivf_topk(spark, sf_dir), mode="simple")
    assert "CartesianProduct" not in p
    assert p.count("BroadcastNestedLoopJoin") <= 1  # the centroid probe


def test_ann_windows_never_rank_full_corpus_per_query(spark, sf_dir):
    """The round-6 PQ-ADC scale flaw, frozen: a Window whose partition
    keys all come from the broadcast side of a BNLJ with an unbounded
    streamed side puts the ENTIRE corpus in every query's sort group.
    The mechanized detector (tools/registry_plan_scan.py) must pass
    every ANN tier except the exact brute-force baseline, where the
    full-corpus rank is the documented point."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    from registry_plan_scan import _perkey_windows_over_bnlj

    from customer_revenue_analysis_sql_tableau_spark.operators.similarity import (
        sim_bruteforce_topk,
        sim_ivf_topk,
        sim_ivfpq_topk,
        sim_lsh_topk,
        sim_pq_topk,
    )

    def executed(fn):
        return (
            fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        )

    # the detector must actually detect the class. Spark >=3.5 plans a
    # row_number<=k filter as a constant-capped partial
    # WindowGroupLimit below the exchange — the bounded-selection fix
    # the detector credits (r15) — so the pathological plan must be
    # reconstructed with that pushdown disabled; brute force then IS
    # the class (every query's sort group holds the full corpus).
    with scoped_conf(spark, {"spark.sql.optimizer.windowGroupLimitThreshold": "-1"}):
        assert _perkey_windows_over_bnlj(executed(sim_bruteforce_topk))
    # ...and every approximate tier must be free of it, WITH the
    # planner's bound in effect (the shipping configuration)
    for fn in (sim_lsh_topk, sim_ivf_topk, sim_pq_topk, sim_ivfpq_topk):
        assert not _perkey_windows_over_bnlj(executed(fn)), fn.__name__


def test_decontamination_broadcasts_the_eval_gram_side(spark, sf_dir):
    """The eval k-gram index must ride a broadcast (it is MBs at any
    corpus size); the train side must never shuffle into a sort-merge
    join against it."""
    from customer_revenue_analysis_sql_tableau_spark.operators.decontamination import (
        decontaminate_ngram_overlap,
    )

    p = plan(decontaminate_ngram_overlap(spark, sf_dir), mode="simple")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p

def test_bucketed_view_fill_joins_without_exchange(spark, sf_dir):
    """The bucketed-layout view fill must read the o⋈l join from the
    pre-bucketed tables with NO Exchange on the join keys (the shuffle
    was paid once at write time) — the layout's entire point."""
    from customer_revenue_analysis_sql_tableau_spark.operators.warehouse import (
        customer_value_summary_bucketed,
    )

    df = customer_value_summary_bucketed(spark, sf_dir)
    # simple mode: exchange/sort/join keys print inline on the tree line
    p = plan(df, mode="simple")
    # the only exchanges allowed are the aggregation shuffles on
    # Customer_ID (partial->final) and the geo join — none keyed on
    # the orderkey join
    import re

    found = re.findall(r"Exchange hashpartitioning\(([^,]+)", p)
    assert found, "no exchanges parsed — plan format drifted"
    for key in found:
        assert "orderkey" not in key, f"o⋈l join still shuffles: {key}"
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p
    # r15 conf legacy.bucketedTableScan.outputOrdering=true: the merge
    # join must trust the recorded bucket sort order — no per-query
    # Sort keyed on the orderkey on either fact side
    for m in re.finditer(r"Sort \[([^\]]*)\]", p):
        assert "orderkey" not in m.group(1), f"fact side re-sorted: {m.group(0)}"


def test_minhash_band_join_shares_one_banded_build(spark, sf_dir):
    """r16: the LSH band self-join must shuffle BOTH sides on
    (band, bucket) so AQE stage reuse shares one signature+band
    subtree — never broadcast one side (a corpus-sized relation at
    scale, and the broadcast subtree rebuilt the 64-min signature
    aggregate a second time). Executed plan: exactly ONE final
    signature aggregate."""
    from customer_revenue_analysis_sql_tableau_spark.operators.dedup import (
        dedup_minhash_lsh,
    )

    df = dedup_minhash_lsh(spark, sf_dir)
    df.collect()
    whole = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in whole, whole[:300]
    final = whole.split("== Initial Plan ==")[0]
    assert "ShuffledHashJoin [band" in final, final
    n_sig_aggs = final.count("functions=[min(xxhash64")
    assert n_sig_aggs == 1, f"{n_sig_aggs} signature final-aggs:\n{final}"


def test_bpe_merge_round_is_single_stage_at_toy_vocab(spark, sf_dir):
    """The BPE trainers checkpoint the word-type table with a captured
    SinglePartition layout when the vocabulary fits one partition
    (``session.checkpoint_layout``: row-count-derived, conf-capped), so
    every merge round's pair-count aggregation plans WITHOUT an
    Exchange — one stage per round instead of three (measured: 2 jobs/
    3 stages/2 exchanges → 1/1/0 per round,
    plans/r16/text_bpe_round_*.txt)."""
    from customer_revenue_analysis_sql_tableau_spark.operators.text import (
        BPE_WORDS_PER_PARTITION,
        _bpe_pair_counts,
        _bpe_word_freqs,
    )

    wf = checkpoint_layout(
        spark, _bpe_word_freqs(spark, sf_dir), BPE_WORDS_PER_PARTITION
    )
    exec_plan = (
        _bpe_pair_counts(wf)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in exec_plan, exec_plan
    assert "Scan ExistingRDD" in exec_plan  # still reads the checkpoint


def test_partition_count_is_ceil_clamped_to_the_shuffle_conf(spark):
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert partition_count(spark, 0, 1000) == 1
    assert partition_count(spark, 3000, 1000) == 3
    assert partition_count(spark, 3001, 1000) == 4
    assert partition_count(spark, cap * 1000, 1000) == cap
    assert partition_count(spark, cap * 1000 + 1, 1000) == cap


def _above_cached_view(df) -> str:
    """Executed plan of a read of the cached view, without the cached
    plan itself (printed below the ``InMemoryRelation`` line)."""
    return (
        df._jdf.queryExecution().executedPlan().toString()
        .split("InMemoryRelation")[0]
    )


def test_view_reads_are_exchange_free_single_job(spark, sf_dir):
    """The memoized view is sized from the customer footer row count
    (``queries.VIEW_ROWS_PER_PARTITION``): a toy view caches as one
    partition, whose SinglePartition layout satisfies every grouping
    and ordering, so q1-q11 reads plan no Exchange and run one job."""
    from customer_revenue_analysis_sql_tableau_spark.operators import queries

    queries.evict_view(spark, sf_dir)
    view = queries.materialized_view(spark, sf_dir)
    view.count()
    assert view.rdd.getNumPartitions() == 1
    for fn in (queries.q2_most_frequent_customers, queries.q4_frequency_segmentation):
        df = fn(spark, sf_dir)
        df.collect()
        above = _above_cached_view(df)
        assert "InMemoryTableScan" in above, above
        assert "Exchange" not in above, above

    sc = spark.sparkContext
    group = "view-read-job-count"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        queries.q4_frequency_segmentation(spark, sf_dir).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    assert len(jobs) == 1, jobs


def test_view_above_the_cap_keeps_its_built_plan(spark, sf_dir, monkeypatch):
    """Above ``spark.sql.shuffle.partitions × VIEW_ROWS_PER_PARTITION``
    customers the view is cached exactly as built: as many partitions as
    the shuffle conf, no Coalesce."""
    from customer_revenue_analysis_sql_tableau_spark.operators import queries

    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    monkeypatch.setattr(
        queries,
        "footer_rows",
        lambda _sf, _table: cap * queries.VIEW_ROWS_PER_PARTITION + 1,
    )
    queries.evict_view(spark, sf_dir)
    try:
        view = queries.materialized_view(spark, sf_dir)
        view.count()
        assert view.rdd.getNumPartitions() == cap
        cached = view._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryRelation" in cached
        assert "Coalesce" not in cached, cached
    finally:
        queries.evict_view(spark, sf_dir)


def test_q18_single_fact_scan(spark, sf_dir):
    """Q18's HAVING aggregate IS the output aggregate (o_orderkey is in
    the output group), so the plan must scan lineitem exactly ONCE
    (r15: the second scan + fact-sized re-aggregation were provably
    redundant and deleted)."""
    from customer_revenue_analysis_sql_tableau_spark.operators.tpch_extended import (
        tpch_q18_large_volume_customers,
    )

    p = plan(tpch_q18_large_volume_customers(spark, sf_dir))
    assert p.count("lineitem.parquet") == 1, "second lineitem scan is back"


def test_view_fact_join_strategy_is_pinned(spark, sf_dir):
    """The plain-scan view fill must run its o⋈l fact join as a
    ShuffledHashJoin (r15: left to the optimizer it BROADCAST the
    600 k-row lineitem side — a serial relation build locally and a
    shape that silently flips to sort-merge at real scale)."""
    p = plan(customer_value_summary(spark, sf_dir), mode="simple")
    import re

    m = re.search(r"ShuffledHashJoin \[o_orderkey", p)
    assert m, "fact join no longer ShuffledHashJoin on the orderkey"
    # lineitem must not ride a broadcast exchange anywhere
    assert not re.search(
        r"BroadcastHashJoin \[[^\]]*l_orderkey", p
    ), "lineitem side broadcast again"

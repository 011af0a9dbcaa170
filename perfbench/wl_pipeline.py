"""``pipeline``: a training-data build that publishes into the lake.

Closed loop, one client, in units. A unit is one pass and one lake
cycle. The pass runs the quality/dedup/decontamination pipeline and
the dedup, similarity, BPE, packing, multimodal decode and pagerank
operators in a seeded order, each ending in a noop-sink write that
computes every column (``count()`` would let Catalyst drop work). The
lake cycle (``lake.py``) appends, upserts, deletes, time-travels,
compacts and stream-ingests a manifest table. Units repeat while the
next one fits in ``--seconds``; there is always at least one.

The set-up pass collects each op's rows instead of writing them and
checks them against DuckDB oracle digests (the check time is taken out
of ``setup_s``); the lake checks itself against a replay of its op log.
"""

from __future__ import annotations

import statistics
import time

import datagen
import lake
import verify

PKG = "customer_revenue_analysis_sql_tableau_spark"
SF = 0.01
OPS = [
    "training_data_pipeline", "dedup_minhash_lsh", "sim_pq_topk", "text_bpe_train",
    "corpus_pack_sequences", "multimodal_decode_wav", "multimodal_decode_jpeg",
    "graph_pagerank_directed",
]
ITERATIVE = {"graph_pagerank_directed", "text_bpe_train"}
PYTHON_UDF = {"multimodal_decode_wav", "multimodal_decode_jpeg", "sim_pq_topk"}
#: ops without a DuckDB oracle (approximate by design); checked for shape
ROWS_ONLY = {"sim_pq_topk"}


def sfs(smoke: bool) -> list[float]:
    """Scale factors read: the pass's tables, then the lake cycle's."""
    return [0.001, 0.01] if smoke else [SF, lake.SF]


def prepare_oracles(oracle) -> None:
    import __spark_entry__ as entry

    sql = entry.oracle_sql()
    for name in OPS:
        if name not in ROWS_ONLY:
            oracle.get(name, sql[name])


def setup(ctx) -> None:
    import __spark_entry__ as entry

    ctx.fns = {n: entry.queries()[n] for n in OPS}
    for name in OPS:
        _op(ctx, name, check=True)
    lake.setup(ctx, datagen.ensure(ctx.data_root, sfs(ctx.smoke)[1]))


def _check_pq(ctx, rows) -> str | None:
    """Shape check for the approximate PQ top-k: every id names a known
    vector and no query returns more than ``TOP_K`` neighbours."""
    from customer_revenue_analysis_sql_tableau_spark.catalog import load_tables
    from customer_revenue_analysis_sql_tableau_spark.operators.similarity import TOP_K

    n_vec = load_tables(ctx.spark, ctx.sf_dir, names=("embeddings",))["embeddings"].count()
    per_query: dict[int, int] = {}
    for r in rows:
        d = r.asDict()
        if any(not 0 <= v < n_vec for k, v in d.items() if k.endswith("_id")):
            return f"unknown vector id in {d}"
        per_query[d["query_id"]] = per_query.get(d["query_id"], 0) + 1
    if not per_query or max(per_query.values()) > TOP_K:
        return f"top-k shape wrong: {per_query}"
    return None


def _op(ctx, name, check=False):
    fn = ctx.fns[name]

    def run(op):
        with op.span("build"):
            df = fn(ctx.spark, ctx.sf_dir)
        with op.span("action"):
            if check:
                return df.columns, df.collect()
            df.write.format("noop").mode("overwrite").save()
        return None

    op = ctx.rec.run(name, fn.__module__.removeprefix(PKG + "."), run)
    if op.ok and check:
        with ctx.rec.checking():
            cols, rows = op.result
            if name in ROWS_ONLY:
                why = _check_pq(ctx, rows)
            else:
                got = verify.digest(cols, rows)
                why = got != ctx.oracle.want[name] and f"digest {got} != oracle {ctx.oracle.want[name]}"
        if why:
            ctx.rec.fail(op, why)
    op.result = None
    return op


def measure(ctx, seconds: float) -> None:
    """Whole units (a pass, then a lake cycle); another unit starts only
    if it should end within ``seconds``. A unit's time is the sum of its
    op latencies, so the output checks between ops do not count."""
    t_end = time.perf_counter() + seconds
    ctx.passes = []
    wall = 0.0
    while not ctx.units or time.perf_counter() + wall <= t_end:
        t0, first = time.perf_counter(), len(ctx.rec.ops)
        order = OPS[:]
        ctx.rng.shuffle(order)
        ops = [_op(ctx, name) for name in order]
        ctx.passes.append((sum(o.wall_s for o in ops), ops))
        lake.cycle(ctx, str(len(ctx.passes)))
        wall = time.perf_counter() - t0
        ctx.units.append(sum(o.wall_s for o in ctx.rec.ops[first:]))
        ctx.unit_cpu.append(sum(o.cpu_s for o in ctx.rec.ops[first:]))
    lake.layers(ctx)


def metrics(ctx) -> dict[str, float]:
    def part(names):
        return statistics.median(
            sum(o.wall_s for o in ops if o.name in names) for _, ops in ctx.passes
        )

    return {
        "pipeline_s": statistics.median(w for w, _ in ctx.passes),
        "iterative_s": part(ITERATIVE),
        "python_udf_s": part(PYTHON_UDF),
        **lake.metrics(ctx),
    }

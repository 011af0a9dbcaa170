"""The lake cycle of the ``pipeline`` workload: writes beside reads on
a manifest-committed table.

Each cycle creates a fresh ``sources.table_api.ManifestTable`` from one
seeded key-slice of ``orders`` (two months of order dates), then runs
the fixed op pattern ``CYCLE``: appends (``insert_into`` of further
seeded key-slices), upserts (recency-skewed keys drawn only from
appended rows), seeded predicate deletes, time-travel ``read(version)``
aggregates at seeded versions, and ``optimize`` + ``vacuum``
maintenance. A Structured Streaming ``foreachBatch`` drain then
publishes ``STREAM_FILES`` delivery files into a second fresh root
through ``sources.manifest_table.publish_stream_append_batch``. The op
pattern is fixed and the seed picks its parameters, so the landed/live
byte ratio is a property of the code, not of the draw. There is no
warm-up cycle: a build publishes once per job, so the first cycle in a
JVM that the pipeline pass has warmed is what a user pays.

Outputs are checked against an independent replay of the op log over
the source rows (read with pyarrow, never through Spark): the head rows
after every cycle, every time-travel aggregate, and the streamed head.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import statistics
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import verify

SF = 0.1
WINDOW = ("2000-01-01", "2000-03-01")
SLICES = 16
CYCLE = ["insert", "upsert", "read", "insert", "maint", "delete", "read"]
RETAIN = 4
UPSERT_KEYS = 30
STREAM_FILES = 3
COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"]
SCHEMA = ("o_orderkey bigint, o_custkey bigint, o_orderstatus string,"
          " o_totalprice double, o_orderdate timestamp")


def _source_rows(sf_dir: str) -> dict[int, tuple]:
    t = pq.read_table(os.path.join(sf_dir, "orders.parquet"), columns=COLS)
    lo, hi = (dt.datetime.fromisoformat(d) for d in WINDOW)
    t = t.filter(pc.and_(pc.greater_equal(t["o_orderdate"], lo), pc.less(t["o_orderdate"], hi)))
    return {r[0]: r for r in zip(*(t[c].to_pylist() for c in COLS))}


def _agg(rows) -> tuple:
    return (len(rows), sum(r[0] for r in rows), sum(round(r[3] * 100) for r in rows))


def setup(ctx, sf_dir: str) -> None:
    from customer_revenue_analysis_sql_tableau_spark.catalog import load_tables

    with ctx.rec.checking():  # the replay's source, read outside Spark
        ctx.source = _source_rows(sf_dir)
    orders = load_tables(ctx.spark, sf_dir, names=("orders",))["orders"]
    ctx.orders = orders.filter(
        (F.col("o_orderdate") >= F.lit(WINDOW[0]).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(WINDOW[1]).cast("timestamp"))
    ).select(*COLS)
    ctx.lake_dir = os.path.join(ctx.run_dir, "lake")
    ctx.cycles = []
    ctx.batches = []
    ctx.resolve_s = []


def _slice(ctx, k: int):
    return ctx.orders.filter(F.col("o_orderkey") % SLICES == k).withColumn(
        "part_month", F.date_format("o_orderdate", "yyyy-MM")
    )


def cycle(ctx, tag: str) -> None:
    from customer_revenue_analysis_sql_tableau_spark.sources import manifest_table as mt
    from customer_revenue_analysis_sql_tableau_spark.sources.table_api import ManifestTable

    rng, rec, spark = ctx.rng, ctx.rec, ctx.spark
    root = os.path.join(ctx.lake_dir, f"t{tag}")
    shutil.rmtree(root, ignore_errors=True)
    slices = list(range(SLICES))
    rng.shuffle(slices)
    state: dict[int, tuple] = {}
    snaps: dict[int, tuple] = {}
    appended: list[list[int]] = []
    landed: dict[str, int] = {}

    def commit_done(op) -> None:
        if not op.ok:
            return
        t0 = time.perf_counter()
        v = mt.resolve_manifest(root)["version"]
        ctx.resolve_s.append(time.perf_counter() - t0)
        snaps[v] = _agg(list(state.values()))
        for d, _, files in os.walk(root):
            if os.path.basename(d).startswith("part_month="):
                for f in files:
                    if f.endswith(".parquet"):
                        landed.setdefault(os.path.join(d, f), os.path.getsize(os.path.join(d, f)))

    def create(op):
        k = slices.pop()
        with op.span("build"):
            df = _slice(ctx, k)
        with op.span("action"):
            table = ManifestTable.create_from(spark, df, root)
        rows = {key: r for key, r in ctx.source.items() if key % SLICES == k}
        state.update(rows)
        appended.append(sorted(rows))
        return table

    op = rec.run("create_from", "sources.table_api", create)
    table = op.result
    op.result = None
    commit_done(op)
    if not op.ok:
        return
    for kind in CYCLE:
        if kind == "insert":
            k = slices.pop()

            def run(op, k=k):
                with op.span("build"):
                    df = _slice(ctx, k)
                with op.span("action"):
                    table.insert_into(df)
                rows = {key: r for key, r in ctx.source.items() if key % SLICES == k}
                state.update(rows)
                appended.append(sorted(rows))

            op = rec.run("insert_into", "sources.table_api", run)
        elif kind == "upsert":
            # recency skew: the i-th landed batch is chosen with weight 2**i
            batches = [b for b in appended if b]
            batch = rng.choices(batches, weights=[2.0 ** i for i in range(len(batches))])[0]
            keys = [k for k in rng.sample(batch, min(UPSERT_KEYS, len(batch))) if k in state]
            bump = round(rng.uniform(1.0, 500.0), 2)
            new = {k: state[k][:2] + ("F", round(state[k][3] + bump, 2), state[k][4]) for k in keys}

            def run(op, new=new):
                with op.span("build"):
                    df = spark.createDataFrame(list(new.values()), SCHEMA).withColumn(
                        "part_month", F.date_format("o_orderdate", "yyyy-MM"))
                with op.span("action"):
                    table.upsert(df, "o_orderkey")
                state.update(new)

            op = rec.run("upsert", "sources.table_api", run)
        elif kind == "delete":
            mod, rem = rng.choice((11, 13, 17)), rng.randrange(11)

            def run(op, mod=mod, rem=rem):
                with op.span("build"):
                    pred = F.col("o_orderkey") % mod == rem
                with op.span("action"):
                    table.delete_where(predicate=pred)
                for key in [key for key in state if key % mod == rem]:
                    del state[key]

            op = rec.run("delete_where", "sources.table_api", run)
        elif kind == "read":
            versions = mt.manifest_versions(root)
            v = versions[-1] if rng.random() < 0.5 else rng.choice(versions)

            def run(op, v=v):
                with op.span("build"):
                    df = table.read(v).agg(
                        F.count(F.lit(1)), F.sum("o_orderkey"),
                        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")))
                with op.span("action"):
                    return tuple(df.collect()[0])

            op = rec.run("read", "sources.table_api", run)
            if op.ok and op.result != snaps[v]:
                rec.fail(op, f"read v{v} {op.result} != replay {snaps[v]}")
            op.result = None
            continue
        else:
            months = sorted(mt.resolve_manifest(root)["files"])

            def optimize(op, months=months):
                with op.span("action"):
                    table.optimize(months)

            op = rec.run("optimize", "sources.table_api", optimize)
            commit_done(op)

            def vacuum(op):
                with op.span("action"):
                    table.vacuum(retain=RETAIN)

            rec.run("vacuum", "sources.table_api", vacuum)
            continue
        commit_done(op)

    head = mt.resolve_manifest(root)
    head_rows = table.read().select(*COLS).collect()
    want = list(state.values())
    if verify.digest(COLS, head_rows) != verify.digest(COLS, want):
        rec.fail(rec.ops[-1], f"cycle {tag}: head rows differ from the replay")
    live = {
        os.path.join(root, f"part_month={m}", n)
        for m, names in head["files"].items() for n in names
    }
    live_bytes = sum(os.path.getsize(p) for p in live)
    ctx.cycles.append({
        "versions": head["version"], "files_live": len(live), "files_written": len(landed),
        "bytes_written": sum(landed.values()), "bytes_live": live_bytes,
        "write_amp": sum(landed.values()) / live_bytes,
    })
    _stream(ctx, tag, slices[:STREAM_FILES])


def _stream(ctx, tag: str, slice_ids: list[int]) -> None:
    """Drain ``len(slice_ids)`` delivery files through a foreachBatch
    stream into a fresh manifest root, one file per micro-batch."""
    from customer_revenue_analysis_sql_tableau_spark.sources import manifest_table as mt

    spark, rec = ctx.spark, ctx.rec
    base = os.path.join(ctx.lake_dir, f"s{tag}")
    shutil.rmtree(base, ignore_errors=True)
    root, src, ckpt = (os.path.join(base, d) for d in ("table", "src", "ckpt"))
    os.makedirs(root)
    os.makedirs(src)
    mt.init_manifest(root)
    delivered = []
    t_base = time.time() - 1000
    for i, k in enumerate(slice_ids):
        rows = [r for key, r in ctx.source.items() if key % SLICES == k]
        delivered += rows
        path = os.path.join(src, f"part-{i:03d}.parquet")
        cols = {c: [r[j] for r in rows] for j, c in enumerate(COLS)}
        cols["o_orderdate"] = pa.array(cols["o_orderdate"], pa.timestamp("us", tz="UTC"))
        pq.write_table(pa.table(cols), path)
        os.utime(path, (t_base + 10 * i, t_base + 10 * i))

    def run(op):
        with op.span("build"):
            q = (
                spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(src)
                .writeStream.foreachBatch(
                    lambda df, bid: mt.publish_stream_append_batch(root, df, bid))
                .option("checkpointLocation", ckpt).trigger(availableNow=True)
            )
        with op.span("action"):
            sq = q.start()
            sq.awaitTermination()
        return [p["durationMs"] for p in sq.recentProgress if p.get("numInputRows", 0) > 0]

    op = rec.run("stream_drain", "sources.manifest_table", run)
    if op.ok:
        ctx.batches += op.result
        op.result = None
        got = mt.read_manifested(spark, root).select(*COLS).collect()
        if verify.digest(COLS, got) != verify.digest(COLS, delivered):
            rec.fail(op, f"stream {tag}: head rows differ from the delivered rows")


def layers(ctx) -> None:
    cycles = ctx.cycles
    for k in ("versions", "files_live", "files_written", "bytes_written", "bytes_live"):
        ctx.layer[f"sources.manifest_table.{k}"] = statistics.fmean(c[k] for c in cycles)
    ctx.layer["sources.manifest_table.resolve_ms"] = statistics.fmean(ctx.resolve_s) * 1000.0
    ops = [o for o in ctx.rec.ops if o.measured and o.ok and o.module == "sources.table_api"]
    for verb in ("create_from", "insert_into", "upsert", "delete_where", "read", "optimize", "vacuum"):
        walls = [o.wall_s for o in ops if o.name == verb]
        ctx.layer[f"sources.table_api.{verb}_ms"] = statistics.fmean(walls) * 1000.0 if walls else 0.0
    batches = ctx.batches
    drains = [o for o in ctx.rec.ops if o.ok and o.name == "stream_drain"]
    ctx.layer["streaming.batches"] = len(batches) / max(1, len(drains))
    for name, key in (("trigger_ms", "triggerExecution"), ("add_batch_ms", "addBatch"),
                      ("latest_offset_ms", "latestOffset"), ("wal_commit_ms", "walCommit")):
        ctx.layer[f"streaming.{name}"] = statistics.median(b.get(key, 0) for b in batches)


def metrics(ctx) -> dict[str, float]:
    ops = [o for o in ctx.rec.ops if o.measured and o.ok]

    def p50(name):
        return statistics.median(o.wall_s * 1000.0 for o in ops if o.name == name)

    return {
        "insert_p50_ms": p50("insert_into"),
        "upsert_p50_ms": p50("upsert"),
        "read_p50_ms": p50("read"),
        "stream_batch_p50_ms": statistics.median(b["triggerExecution"] for b in ctx.batches),
        "write_amp": statistics.median(c["write_amp"] for c in ctx.cycles),
    }

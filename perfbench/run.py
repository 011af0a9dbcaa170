"""Repository benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload {warehouse,pipeline} \\
        --seed N --seconds S --trace {0,1} [--smoke]

Run from the repository root. The command generates its tables under
``.perfbench/data`` (once per checkout), starts one SparkSession on
``local[<cpus>]`` with its own warehouse, local and temp dirs under
``.perfbench/runs``, sets the workload up, measures it in whole units
(one pass over its ops) while the next unit fits in ``--seconds`` (at
least one), checks every output, and prints one JSON object as its last
stdout line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the run also writes Spark's event log and tags every op with a job group,
and the metrics are the per-layer ones; a traced run whose event log is
missing, or matches no measured op, counts as failed. A detail line
printed just before the result carries host gauges, span self times and
counts. ``--smoke`` swaps in smaller tables for a quick self-test. The
tables and oracle digests are built by a child process of the command
(``--prepare``), which also times bench.py's CPU gauges before and after
the run, so none of that counts in the reported peak RSS.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

T_PROCESS = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "customer_revenue_analysis_sql_tableau_spark"
WORKLOADS = ("warehouse", "pipeline")

#: (name, unit) of every end-to-end metric. Every workload reports all
#: of them, each over its own op mix. The unit's cost is gated as CPU
#: time, which leaves out the time other tenants steal from the host;
#: latencies (pass_s, op_gmean_ms, op_p50_ms) and the workload's own
#: named figures (query_p50_ms, pipeline_s, write_amp, ...) go to the
#: detail line, because steal moves them by more than any bound allows.
END_TO_END = [("setup_s", "s"), ("peak_rss_mb", "MB"), ("pass_cpu_s", "s")]
#: (name, unit) of every per-layer metric: the layers both workloads
#: pass through. Engine counters are means per measured op; the same
#: split per package module goes to the detail line.
SPARK_COUNTS = ("sql_executions", "jobs", "stages", "tasks")
SPARK_MS = ("plan_ms", "driver_gap_ms", "executor_run_ms", "executor_cpu_ms", "gc_ms",
            "scheduler_delay_ms")
SPARK_MB = ("shuffle_read_mb", "shuffle_write_mb", "input_mb")
PER_LAYER = (
    [("session.get_spark_ms", "ms"), ("catalog.load_tables_ms", "ms"),
     ("catalog.load_tables_calls", "count"), ("catalog.cache_hit_ratio", "ratio"),
     ("ops.build_ms", "ms"), ("ops.action_ms", "ms"), ("ops.cpu_ms", "ms")]
    + [(f"spark.{k}", "count") for k in SPARK_COUNTS]
    + [(f"spark.{k}", "ms") for k in SPARK_MS]
    + [(f"spark.{k}", "MB") for k in SPARK_MB]
    + [("trace.op_wall_ms", "ms"), ("trace.unattributed_pct", "%")]
)


def _args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="use the smaller smoke-test tables")
    p.add_argument("--prepare", action="store_true",
                   help="only generate the tables and oracle digests, then exit")
    return p.parse_args(argv)


def _require_program() -> None:
    """Fail before any work when the package is not beside the benchmark."""
    if not (
        os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
        and os.path.isdir(os.path.join(ROOT, PACKAGE))
    ):
        print(f"perfbench: {PACKAGE} not found under {ROOT}", file=sys.stderr)
        sys.exit(2)


def _cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _launch_env(run_dir: str, trace: bool) -> None:
    """Point every scratch path of Python, the JVM and Spark into the run
    dir, and pass the launch confs through ``PYSPARK_SUBMIT_ARGS``."""
    import shlex
    import tempfile

    dirs = {k: os.path.join(run_dir, k) for k in ("wh", "local", "tmp", "eventlog", "ckpt")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = dirs["tmp"]
    tempfile.tempdir = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["SPARK_GRAFT_CPUS"] = str(_cpus())
    # a fixed-size heap (-Xms = -Xmx): heap growth then never depends on
    # GC timing, which keeps both peak RSS and GC cost steady run to run
    heap = os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    java_opts = (
        f"-Xms{heap} -Djava.io.tmpdir={dirs['tmp']} -Dderby.system.home={dirs['tmp']}"
        " -XX:-UsePerfData"
    )
    confs = {
        "spark.sql.warehouse.dir": f"file:{dirs['wh']}",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": java_opts,
        "spark.sql.streaming.checkpointLocation": dirs["ckpt"],
    }
    if trace:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file:{dirs['eventlog']}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()
    ) + " pyspark-shell"


def _vm_hwm_mb(pid: int | str) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _jvm_proc():
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return getattr(gw, "proc", None) if gw is not None else None


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    proc = _jvm_proc()
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:
            pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _bandwidth_gauge(spark) -> float:
    """Shuffle/memory-bandwidth gauge: the shape of bench.py's
    ``_bandwidth_calibration`` at a twentieth of its rows (1.2M), timed
    once in the JVM the set-up has warmed; the full-size gauge costs
    ~18 s per call."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    (
        spark.range(1_200_000)
        .select((F.col("id") * 2654435761 % 1048576).alias("k"), F.col("id").alias("v"))
        .repartition(64, "k").groupBy("k").agg(F.sum("v").alias("s"))
        .write.format("noop").mode("overwrite").save()
    )
    return time.perf_counter() - t0


def _cpu_ticks() -> dict[str, int]:
    """Host-wide CPU time split from ``/proc/stat``, in clock ticks."""
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()[1:9]
    except OSError:
        return {}
    names = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")
    return dict(zip(names, map(int, fields)))


def _cpu_gauges() -> list[float]:
    """bench.py's two CPU gauges, timed in this process."""
    import bench

    return [bench._cpu_calibration(), bench._cpu_calibration_mt(_cpus())]


def _host_gauges(argv: list[str], spark=None) -> dict:
    """Run the ``--prepare`` child, which makes sure the tables and
    oracle digests exist and then prints bench.py's CPU gauges (so that
    neither counts in this process's peak RSS), and add host load."""
    out = subprocess.run([sys.executable, os.path.abspath(__file__), *argv, "--prepare"],
                         cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True).stdout
    st, mt = json.loads(out.strip().splitlines()[-1])
    g = {
        "cpu_calibration_s": st,
        "cpu_calibration_mt_s": mt,
        "loadavg": os.getloadavg(),
        "cpu_ticks": _cpu_ticks(),
    }
    if spark is not None:
        g["shuffle_calibration_s"] = _bandwidth_gauge(spark)
    return g


def _mean(xs) -> float:
    xs = list(xs)
    return statistics.fmean(xs) if xs else 0.0


def _end_to_end(ctx, setup_s: float, rss_mb: float) -> dict[str, float]:
    walls = [o.wall_s * 1000.0 for o in ctx.rec.ops if o.ok and o.measured]
    return {
        "setup_s": setup_s,
        "peak_rss_mb": rss_mb,
        "pass_s": statistics.median(ctx.units),
        "op_gmean_ms": statistics.geometric_mean(walls),
        "pass_cpu_s": statistics.median(ctx.unit_cpu),
        "op_p50_ms": statistics.median(walls),
        "ops": len(walls),
    }


def _by_module(ops, spark_stats: dict | None) -> dict[str, dict]:
    """Build/action means and engine counters per package module."""
    out: dict[str, dict] = {}
    for mod in sorted({o.module for o in ops}):
        mine = [o for o in ops if o.module == mod]
        row = {
            "ops": len(mine),
            "build_ms": _mean(o.build_s for o in mine) * 1000.0,
            "action_ms": _mean(o.action_s for o in mine) * 1000.0,
        }
        if spark_stats:
            for k in spark_stats[mine[0].op_id]:
                row[f"spark.{k}"] = _mean(spark_stats[o.op_id][k] for o in mine)
        out[mod] = row
    return out


def _per_layer(ctx, ops, spark_stats: dict | None) -> dict[str, float]:
    import tracing

    probe = ctx.probe
    rep = tracing.span_report(ops)
    out = {
        "session.get_spark_ms": ctx.session_s * 1000.0,
        "catalog.load_tables_ms": probe["lt_s"] * 1000.0 / max(1, probe["lt_calls"]),
        "catalog.load_tables_calls": probe["lt_calls"] / max(1, len(ops)),
        "catalog.cache_hit_ratio": probe["lt_hits"] / max(1, probe["lt_names"]),
        "ops.build_ms": _mean(o.build_s for o in ops) * 1000.0,
        "ops.action_ms": _mean(o.action_s for o in ops) * 1000.0,
        "ops.cpu_ms": _mean(o.cpu_s for o in ops) * 1000.0,
        "trace.op_wall_ms": rep["wall_s"] / max(1, rep["ops"]) * 1000.0,
        "trace.unattributed_pct": rep["unattributed_pct"],
    }
    for k in SPARK_COUNTS + SPARK_MS + SPARK_MB:
        out[f"spark.{k}"] = _mean(spark_stats[o.op_id][k] for o in ops) if spark_stats else 0.0
    return out


class Ctx:
    """What a workload sees: the session, its tables, the seeded RNG, the
    op recorder, its oracle cache and a dict for layer counters."""

    def __init__(self, spark, sf_dir, seed, trace, run_dir, rec, oracle, smoke):
        import random

        self.spark = spark
        self.sf_dir = sf_dir
        self.rng = random.Random(seed)
        self.trace = trace
        self.run_dir = run_dir
        self.rec = rec
        self.oracle = oracle
        self.smoke = smoke
        self.layer: dict[str, float] = {}
        self.units: list[float] = []
        self.unit_cpu: list[float] = []
        self.session_s = 0.0


def main(argv: list[str]) -> int:
    args = _args(argv)
    _require_program()
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    state = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(state, "runs", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    _launch_env(run_dir, bool(args.trace))

    import importlib

    import datagen
    import tracing
    import verify

    wl = importlib.import_module(f"wl_{args.workload}")
    sf = wl.sfs(args.smoke)[0]
    if not args.prepare:
        gauges = {"before": _host_gauges(argv)}
    sf_dirs = [datagen.ensure(os.path.join(state, "data"), x) for x in wl.sfs(args.smoke)]
    sf_dir = sf_dirs[0]
    oracle = verify.OracleCache(sf_dir)
    wl.prepare_oracles(oracle)
    if args.prepare:
        shutil.rmtree(run_dir, ignore_errors=True)
        print(json.dumps(_cpu_gauges()))
        return 0

    spark = None
    try:
        from customer_revenue_analysis_sql_tableau_spark.session import get_spark

        t_setup = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t_setup
        rec = tracing.Recorder(spark, bool(args.trace), _jvm_proc().pid)
        ctx = Ctx(spark, sf_dir, args.seed, bool(args.trace), run_dir, rec, oracle, args.smoke)
        ctx.session_s = session_s
        ctx.data_root = os.path.join(state, "data")
        wl.setup(ctx)
        setup_check_s = rec.check_s
        setup_s = time.perf_counter() - t_setup - setup_check_s
        gauges["before"]["shuffle_calibration_s"] = _bandwidth_gauge(spark)
        for op in rec.ops:
            op.measured = False
        if args.trace:
            ctx.probe = tracing.install_probes(PACKAGE)
        t_meas = time.perf_counter()
        wl.measure(ctx, args.seconds)
        measured_s = time.perf_counter() - t_meas
        jvm = _jvm_proc()
        rss_mb = _vm_hwm_mb("self") + (_vm_hwm_mb(jvm.pid) if jvm else 0.0)
        named = wl.metrics(ctx)
        gauges["after"] = _host_gauges(argv, spark)
        e2e = _end_to_end(ctx, setup_s, rss_mb)
        _stop_spark(spark)
        spark = None
        ops = [o for o in rec.ops if o.measured and o.ok]
        spark_stats = None
        if args.trace:
            log = tracing.find_event_log(os.path.join(run_dir, "eventlog"))
            spark_stats = tracing.reduce_event_log(log, ops) if log else None
            if spark_stats is None:
                rec.fail_run("traced run: no Spark event log was written")
            elif not all(sum(s[k] for s in spark_stats.values()) for k in ("jobs", "tasks")):
                rec.fail_run("traced run: no job or task in the event log matched a measured op")
        detail = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "sf": sf, "cpus": _cpus(),
            "process_to_setup_s": t_setup - T_PROCESS, "session_s": session_s,
            "setup_ops_s": {o.op_id: o.wall_s for o in rec.ops if not o.measured},
            "setup_ops_cpu_s": sum(o.cpu_s for o in rec.ops if not o.measured),
            "setup_check_s": setup_check_s, "check_s": rec.check_s,
            "measured_s": measured_s, "op_cpu_s": sum(o.cpu_s for o in ops),
            "units": len(ctx.units), "host_gauges": gauges,
            "end_to_end": e2e, "workload_metrics": named, "layers": ctx.layer,
            "modules": _by_module(ops, spark_stats), "spans": tracing.span_report(ops),
            "op_counts": _op_counts(ops),
            "op_walls_ms": _op_walls(ops),
            "errors": rec.run_errors + [f"{o.op_id}: {o.error}" for o in rec.ops if not o.ok][:20],
        }
        if args.trace:
            names, values = PER_LAYER, _per_layer(ctx, ops, spark_stats)
            detail["probe"] = ctx.probe
            detail["ops_without_jobs"] = sorted(
                {o.name for o in ops if spark_stats and not spark_stats[o.op_id]["jobs"]})
            detail["span_log"] = [
                (name, s0 - t_meas, s1 - t_meas, op_id) for o in ops for name, s0, s1, op_id in o.spans
            ]
        else:
            names, values = END_TO_END, e2e
        print(json.dumps({"perfbench_detail": detail}, default=str))
        print(json.dumps({
            "correct": rec.failed == 0,
            "attempted": rec.attempted,
            "failed": rec.failed,
            "metrics": {n: {"value": float(values[n]), "unit": u} for n, u in names},
        }))
        return 0
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


def _op_walls(ops) -> dict[str, list[float]]:
    walls: dict[str, list[float]] = {}
    for o in ops:
        walls.setdefault(o.name, []).append((round(o.wall_s * 1000.0, 1), round(o.cpu_s * 1000.0)))
    return walls


def _op_counts(ops) -> dict[str, int]:
    counts: dict[str, int] = {}
    for o in ops:
        counts[o.name] = counts.get(o.name, 0) + 1
    return counts


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

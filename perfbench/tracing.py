"""Op records, spans and the event-log reduction behind the traced run.

Every op the benchmark issues is one ``Op``: a root span around the
whole call, split into a ``build`` child (the call that returns the
DataFrame or result) and an ``action`` child (the call that makes Spark
run). Spans stay in memory; nothing is written until the run ends.

With tracing on, each op also runs under ``setJobGroup(<op id>)`` and the
JVM writes an uncompressed Spark event log, which ``reduce_event_log``
folds into per-op engine counters.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Op:
    op_id: str
    name: str
    module: str
    t0: float = 0.0
    t1: float = 0.0
    epoch0_ms: float = 0.0
    epoch1_ms: float = 0.0
    build_s: float = 0.0
    action_s: float = 0.0
    cpu_s: float = 0.0
    ok: bool = True
    measured: bool = True
    error: str = ""
    result: object = None
    rows: int = 0
    spans: list = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        return self.t1 - self.t0

    @contextmanager
    def span(self, name: str):
        s0 = time.perf_counter()
        try:
            yield
        finally:
            dt = time.perf_counter() - s0
            self.spans.append((name, s0, s0 + dt, self.op_id))
            if name == "build":
                self.build_s += dt
            elif name == "action":
                self.action_s += dt


class Recorder:
    """Runs ops, catches their failures and keeps their records, and
    sums the time spent checking outputs (``check_s``) so that it can be
    taken out of the set-up time."""

    def __init__(self, spark, trace: bool, jvm_pid: int):
        self.spark = spark
        self.trace = trace
        self.jvm_pid = jvm_pid
        self.ops: list[Op] = []
        self.failed = 0
        self.attempted = 0
        self.check_s = 0.0
        self.run_errors: list[str] = []

    @contextmanager
    def checking(self):
        """Time an output check, or a read that only feeds one."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.check_s += time.perf_counter() - t0

    def run(self, name: str, module: str, fn) -> Op:
        """Run ``fn(op)`` as one op; ``fn`` opens the build/action spans
        and returns the op's result. An exception marks the op failed
        and the run goes on."""
        op = Op(f"{len(self.ops):05d}:{name}", name, module)
        self.attempted += 1
        if self.trace:
            self.spark.sparkContext.setJobGroup(op.op_id, name)
        op.epoch0_ms = time.time() * 1000.0
        # CPU of the program: this process, the JVM and its Python
        # workers; the /proc scans stay outside this process's readings
        jvm0 = tree_cpu_s(self.jvm_pid)
        py0 = time.process_time()
        op.t0 = time.perf_counter()
        try:
            op.result = fn(op)
        except Exception as exc:  # the run continues; the op counts as failed
            op.ok = False
            op.error = f"{type(exc).__name__}: {exc}"[:500]
            self.failed += 1
        op.t1 = time.perf_counter()
        py1 = time.process_time()
        op.cpu_s = py1 - py0 + tree_cpu_s(self.jvm_pid) - jvm0
        op.epoch1_ms = time.time() * 1000.0
        if self.trace:
            self.spark.sparkContext.setJobGroup("perfbench:untimed", "untimed")
        self.ops.append(op)
        return op

    def fail(self, op: Op, why: str) -> None:
        """Count a verification failure against an op that ran."""
        if op.ok:
            op.ok = False
            op.error = why[:500]
            self.failed += 1

    def fail_run(self, why: str) -> None:
        """Count a failed check of the run as a whole, such as a traced
        run whose event log is missing."""
        self.attempted += 1
        self.failed += 1
        self.run_errors.append(why[:500])


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root_pid: int) -> float:
    """User + system CPU seconds of ``root_pid`` and its live descendants,
    each with the children it has reaped. The kernel leaves time stolen
    by the hypervisor out of these counts."""
    procs: dict[int, tuple[int, int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[1] is the ppid; fields[11:15] utime, stime, cutime, cstime
        procs[int(name)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    tree, grew = {root_pid}, True
    while grew:
        grew = False
        for pid, (ppid, _) in procs.items():
            if ppid in tree and pid not in tree:
                tree.add(pid)
                grew = True
    return sum(procs[p][1] for p in tree if p in procs) * _TICK_S


def span_report(ops: list[Op]) -> dict:
    """Self times of the benchmark's spans: an op's own self time is its
    wall minus its build and action children, so the three sum to the
    wall exactly; ``unattributed_pct`` is how much of the measured wall
    fell outside any layer call."""
    wall = sum(o.wall_s for o in ops)
    build = sum(o.build_s for o in ops)
    action = sum(o.action_s for o in ops)
    return {
        "ops": len(ops),
        "wall_s": wall,
        "build_self_s": build,
        "action_self_s": action,
        "op_self_s": wall - build - action,
        "unattributed_pct": 100.0 * (wall - build - action) / wall if wall else 0.0,
    }


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def find_event_log(log_dir: str) -> str | None:
    if not os.path.isdir(log_dir):
        return None
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    return max(files, key=os.path.getsize) if files else None


def reduce_event_log(path: str, ops: list[Op]) -> dict[str, dict]:
    """Per-op engine counters from Spark's JSON event log.

    Jobs are attributed to ops by job group, stages and tasks through
    their job, SQL executions by start time inside the op's wall-clock
    window (an execution without jobs carries no group)."""
    by_id = {o.op_id: o for o in ops}
    stats = {
        o.op_id: {
            "sql_executions": 0, "jobs": 0, "stages": 0, "tasks": 0,
            "plan_ms": 0.0, "executor_run_ms": 0.0, "executor_cpu_ms": 0.0,
            "gc_ms": 0.0, "scheduler_delay_ms": 0.0, "shuffle_read_mb": 0.0,
            "shuffle_write_mb": 0.0, "spill_mb": 0.0, "input_mb": 0.0,
            "output_mb": 0.0, "_stage_iv": [],
        }
        for o in ops
    }
    stage_op: dict[int, str] = {}
    exec_start: dict[int, float] = {}
    exec_first_job: dict[int, float] = {}
    mb = 1.0 / (1024 * 1024)
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                eid = props.get("spark.sql.execution.id")
                if eid is not None:
                    eid = int(eid)
                    t = float(ev["Submission Time"])
                    exec_first_job[eid] = min(exec_first_job.get(eid, t), t)
                gid = props.get("spark.jobGroup.id")
                if gid in by_id:
                    stats[gid]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_op[int(sid)] = gid
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                gid = stage_op.get(int(info["Stage ID"]))
                if gid is not None and "Submission Time" in info:
                    s = stats[gid]
                    s["stages"] += 1
                    s["_stage_iv"].append(
                        (float(info["Submission Time"]), float(info["Completion Time"]))
                    )
            elif kind == "SparkListenerTaskEnd":
                gid = stage_op.get(int(ev["Stage ID"]))
                m = ev.get("Task Metrics")
                if gid is None or not m:
                    continue
                s = stats[gid]
                ti = ev["Task Info"]
                s["tasks"] += 1
                run = float(m.get("Executor Run Time", 0))
                s["executor_run_ms"] += run
                s["executor_cpu_ms"] += float(m.get("Executor CPU Time", 0)) / 1e6
                s["gc_ms"] += float(m.get("JVM GC Time", 0))
                busy = (
                    run
                    + float(m.get("Executor Deserialize Time", 0))
                    + float(m.get("Result Serialization Time", 0))
                )
                dur = float(ti.get("Finish Time", 0)) - float(ti.get("Launch Time", 0))
                s["scheduler_delay_ms"] += max(0.0, dur - busy)
                sr = m.get("Shuffle Read Metrics") or {}
                s["shuffle_read_mb"] += (
                    float(sr.get("Remote Bytes Read", 0)) + float(sr.get("Local Bytes Read", 0))
                ) * mb
                sw = m.get("Shuffle Write Metrics") or {}
                s["shuffle_write_mb"] += float(sw.get("Shuffle Bytes Written", 0)) * mb
                s["spill_mb"] += float(m.get("Disk Bytes Spilled", 0)) * mb
                s["input_mb"] += float((m.get("Input Metrics") or {}).get("Bytes Read", 0)) * mb
                s["output_mb"] += float((m.get("Output Metrics") or {}).get("Bytes Written", 0)) * mb
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                exec_start[int(ev["executionId"])] = float(ev["time"])
    windows = sorted((o.epoch0_ms, o.epoch1_ms, o.op_id) for o in ops)
    for eid, t in exec_start.items():
        for a, b, gid in windows:
            if a <= t <= b:
                stats[gid]["sql_executions"] += 1
                if eid in exec_first_job:
                    stats[gid]["plan_ms"] += max(0.0, exec_first_job[eid] - t)
                break
    for o in ops:
        s = stats[o.op_id]
        s["driver_gap_ms"] = max(0.0, o.wall_s * 1000.0 - _union_ms(s.pop("_stage_iv")))
    return stats


def install_probes(package: str) -> dict:
    """Wrap ``catalog.load_tables`` wherever the package bound it, and
    ``queries.materialized_view``, to count calls, time and cache hits
    from outside the program. Used by the traced run only."""
    import importlib
    import sys

    catalog = importlib.import_module(f"{package}.catalog")
    queries = importlib.import_module(f"{package}.operators.queries")
    probe = {"lt_calls": 0, "lt_s": 0.0, "lt_names": 0, "lt_hits": 0, "mv_calls": 0, "mv_hits": 0}
    orig_lt, orig_mv = catalog.load_tables, queries.materialized_view

    def load_tables(spark, sf_dir, names=catalog.TABLES, register=True):
        app = spark.sparkContext.applicationId
        probe["lt_names"] += len(names)
        probe["lt_hits"] += sum((app, sf_dir, n) in catalog._TABLE_CACHE for n in names)
        t0 = time.perf_counter()
        try:
            return orig_lt(spark, sf_dir, names, register)
        finally:
            probe["lt_s"] += time.perf_counter() - t0
            probe["lt_calls"] += 1

    def materialized_view(spark, sf_dir):
        probe["mv_calls"] += 1
        probe["mv_hits"] += (spark.sparkContext.applicationId, sf_dir) in queries._VIEW_CACHE
        return orig_mv(spark, sf_dir)

    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith(package):
            if getattr(mod, "load_tables", None) is orig_lt:
                mod.load_tables = load_tables
            if getattr(mod, "materialized_view", None) is orig_mv:
                mod.materialized_view = materialized_view
    return probe

"""Traced-run support: spans kept in memory around the benchmark's own
calls into the engine, a parser for Spark's JSON event log, and the join
of the two into per-layer metrics.

Every span carries a Spark job group (``Span.group``), set on the thread
before the call, so each job, stage and task in the event log can be
billed to the span that caused it.  Nothing here imports Spark: the
parser reads the event-log file after the session has stopped.
"""

from __future__ import annotations

import json
import os
import re
from collections import defaultdict
from dataclasses import dataclass, field

# Layer metric -> (unit, end-to-end metric it should move, workload).  The
# traced run reports every key; BENCHMARK.json lists the same names.
LAYER_MAP: dict[str, tuple[str, str, str]] = {
    "registry.build_s": ("s", "latency_p50_s", "interactive"),
    "registry.build_calls": ("count", "ops_per_s", "interactive"),
    "probe.jobs": ("count", "latency_tail_s", "interactive"),
    "probe.job_s": ("s", "latency_tail_s", "interactive"),
    "probe.builders_with_jobs": ("count", "latency_tail_s", "interactive"),
    "plan.gap_s": ("s", "latency_p50_s", "interactive"),
    "exec.jobs": ("count", "ops_per_s", "interactive"),
    "exec.stages": ("count", "ops_per_s", "interactive"),
    "exec.tasks": ("count", "ops_per_s", "interactive"),
    "exec.job_s": ("s", "ops_per_s", "interactive"),
    "exec.core_busy_ratio": ("ratio", "latency_tail_s", "interactive"),
    "exec.task_run_s": ("s", "cpu_s_per_op", "interactive"),
    "exec.task_cpu_s": ("s", "cpu_s_per_op", "interactive"),
    "exec.gc_s": ("s", "cpu_s_per_op", "interactive"),
    "exec.shuffle_read_bytes": ("bytes", "ops_per_s", "interactive"),
    "exec.shuffle_write_bytes": ("bytes", "ops_per_s", "interactive"),
    "exec.spill_bytes": ("bytes", "ops_per_s", "interactive"),
    "exec.input_bytes": ("bytes", "cpu_s_per_op", "interactive"),
    "exec.python_s": ("s", "cpu_s_per_op", "interactive"),
    "dag.extract_s": ("s", "latency_p50_s", "etl_load"),
    "dag.transform_s": ("s", "latency_p50_s", "etl_load"),
    "dag.load_s": ("s", "latency_p50_s", "etl_load"),
    "repository.jobs_per_load": ("count", "ops_per_s", "etl_load"),
    "repository.bytes_written": ("bytes", "cpu_s_per_op", "etl_load"),
    "repository.rows_written_per_row": ("ratio", "cpu_s_per_op", "etl_load"),
    # Must stay flat: shows a read/write/space trade-off, moves no latency.
    "repository.space_amp": ("ratio", "none", "etl_load"),
    # Diagnostics: explain a run's spread, never a gate.
    "env.steal_pct": ("%", "none", "all"),
    "env.busy_cores": ("cores", "none", "all"),
    # The traced run's own end-to-end numbers; minus the untraced run's
    # they give the tracing overhead.
    "trace.ops_per_s": ("1/s", "ops_per_s", "all"),
    "trace.latency_p50_s": ("s", "latency_p50_s", "all"),
    "trace.cpu_s_per_op": ("s", "cpu_s_per_op", "all"),
}

# Phases of one operation; each gets its own job group.
BUILD, EXEC, EXTRACT, TRANSFORM, LOAD = "build", "exec", "extract", "transform", "load"


@dataclass
class Span:
    """One call the benchmark made into the engine.  ``start``/``end``
    are epoch seconds (the event log's clock, in ms)."""

    op: int
    phase: str
    name: str
    start: float
    end: float = 0.0

    @property
    def group(self) -> str:
        return f"pb-{self.op}-{self.phase}"

    @property
    def wall_s(self) -> float:
        return self.end - self.start


@dataclass
class GroupStats:
    """Event-log records billed to one job group."""

    jobs: list[tuple[float, float]] = field(default_factory=list)
    stages: int = 0
    tasks: int = 0
    task_run_s: float = 0.0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    output_bytes: int = 0
    output_records: int = 0
    python_s: float = 0.0


# SQL metric (milliseconds) of Arrow/pandas Python operators: time the
# Python workers spent running the user function.
_PYTHON_TIME_METRIC = "time to run Python workers"


def parse_event_log(lines) -> dict[str, GroupStats]:
    """Fold a Spark JSON event log (an iterable of lines) into
    per-job-group statistics.  Jobs without a group are keyed ``""``."""
    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    stage_group: dict[int, str] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            jid = ev["Job ID"]
            job_group[jid] = g
            job_start[jid] = ev["Submission Time"] / 1000.0
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, g)
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_start:
                groups[job_group[jid]].jobs.append(
                    (job_start[jid], ev["Completion Time"] / 1000.0)
                )
        elif kind == "SparkListenerStageSubmitted":
            sid = ev["Stage Info"]["Stage ID"]
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if g is not None:
                stage_group[sid] = g
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            gs = groups[stage_group.get(info["Stage ID"], "")]
            gs.stages += 1
            for acc in info.get("Accumulables", []):
                if acc.get("Name") == _PYTHON_TIME_METRIC:
                    gs.python_s += float(acc.get("Value", 0)) / 1000.0
        elif kind == "SparkListenerTaskEnd":
            gs = groups[stage_group.get(ev["Stage ID"], "")]
            gs.tasks += 1
            m = ev.get("Task Metrics") or {}
            gs.task_run_s += m.get("Executor Run Time", 0) / 1000.0
            gs.task_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            gs.gc_s += m.get("JVM GC Time", 0) / 1000.0
            sr = m.get("Shuffle Read Metrics") or {}
            gs.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            sw = m.get("Shuffle Write Metrics") or {}
            gs.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
            gs.spill_bytes += m.get("Disk Bytes Spilled", 0)
            gs.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            out = m.get("Output Metrics") or {}
            gs.output_bytes += out.get("Bytes Written", 0)
            gs.output_records += out.get("Records Written", 0)
    return dict(groups)


def read_event_log_dir(path: str):
    """Lines of every event log under ``path``, in write order.  Spark 4
    writes ``eventlog_v2_<app>/events_<n>_<app>`` files (rolled at a size
    limit), so one application's log can span several files."""
    found = []
    for d, _, files in os.walk(path):
        for f in files:
            m = re.match(r"events_(\d+)_", f)
            if m:
                found.append((d, int(m.group(1)), f))
            elif not f.startswith(".") and not f.startswith("appstatus"):
                found.append((d, 0, f))  # a single-file (v1) log
    for d, _, f in sorted(found):
        with open(os.path.join(d, f)) as fh:
            yield from fh


def union_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Seconds of [lo, hi] covered by the union of ``intervals``."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def probe_builders(spans: list[Span], groups: dict[str, GroupStats]) -> list[str]:
    """Names of the builders whose calls started Spark jobs."""
    return sorted(
        {s.name for s in spans if s.phase == BUILD and s.group in groups and groups[s.group].jobs}
    )


def layer_metrics(
    spans: list[Span],
    groups: dict[str, GroupStats],
    n_ops: int,
    cores: int,
    batch_rows: int = 0,
) -> dict[str, float]:
    """Layer metrics over the timed window's ``spans``: means per
    completed operation, except the ratios and
    ``probe.builders_with_jobs`` (distinct builders in the window).
    ``batch_rows`` is the rows of one load batch (0: no loads).  The
    ``dag.*`` and ``repository.space_amp`` values come from the workload,
    not from spans, and start at 0 here."""
    per = max(1, n_ops)
    empty = GroupStats()
    out = {k: 0.0 for k in LAYER_MAP if not k.startswith(("env.", "trace."))}
    by_phase: dict[str, list[Span]] = defaultdict(list)
    for s in spans:
        by_phase[s.phase].append(s)

    builds = by_phase[BUILD]
    probe_jobs = 0
    build_free = probe_s = 0.0
    for s in builds:
        g = groups.get(s.group, empty)
        covered = union_s(g.jobs, s.start, s.end)
        build_free += s.wall_s - covered
        probe_s += covered
        probe_jobs += len(g.jobs)
    out["registry.build_s"] = build_free / per
    out["registry.build_calls"] = len(builds) / per
    out["probe.jobs"] = probe_jobs / per
    out["probe.job_s"] = probe_s / per
    out["probe.builders_with_jobs"] = float(len(probe_builders(spans, groups)))

    execs = by_phase[EXEC]
    job_s = gap_s = 0.0
    agg = GroupStats()
    for s in execs:
        g = groups.get(s.group, empty)
        covered = union_s(g.jobs, s.start, s.end)
        job_s += covered
        gap_s += s.wall_s - covered
        agg.jobs.extend(g.jobs)
        for f in (
            "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
            "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
            "input_bytes", "python_s",
        ):
            setattr(agg, f, getattr(agg, f) + getattr(g, f))
    out["plan.gap_s"] = gap_s / per
    out["exec.jobs"] = len(agg.jobs) / per
    out["exec.stages"] = agg.stages / per
    out["exec.tasks"] = agg.tasks / per
    out["exec.job_s"] = job_s / per
    out["exec.core_busy_ratio"] = (
        agg.task_run_s / (cores * job_s) if job_s > 0 else 0.0
    )
    out["exec.task_run_s"] = agg.task_run_s / per
    out["exec.task_cpu_s"] = agg.task_cpu_s / per
    out["exec.gc_s"] = agg.gc_s / per
    out["exec.shuffle_read_bytes"] = agg.shuffle_read_bytes / per
    out["exec.shuffle_write_bytes"] = agg.shuffle_write_bytes / per
    out["exec.spill_bytes"] = agg.spill_bytes / per
    out["exec.input_bytes"] = agg.input_bytes / per
    out["exec.python_s"] = agg.python_s / per

    loads = by_phase[LOAD]
    if loads and batch_rows:
        lg = [groups.get(s.group, empty) for s in loads]
        out["repository.jobs_per_load"] = sum(len(g.jobs) for g in lg) / len(loads)
        out["repository.bytes_written"] = sum(g.output_bytes for g in lg) / len(loads)
        out["repository.rows_written_per_row"] = sum(
            g.output_records for g in lg
        ) / (len(loads) * batch_rows)
    return out

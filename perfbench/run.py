#!/usr/bin/env python3
"""Closed-loop benchmark of the polyspark engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 10 --trace 0

One client keeps one operation in flight on Spark ``local[nproc]``, in
this fresh process.  The run builds its inputs from ``--seed``, warms the
workload's own operations for a fixed amount of work, times operations
for at least ``--seconds`` seconds (query workloads stop at a pass
boundary so every query weighs the same), checks the outputs untimed,
and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` repeats the
run with a Spark job group on every operation phase and the event log
on, and reports the per-layer metrics of ``tracing.LAYER_MAP`` instead.
A line starting ``perfbench-detail`` just before the result carries the
run's diagnostics (steal, pass curve, tail percentile, sample counts).
See perfbench/README.md for the workloads and how they were chosen.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()  # set-up is timed from here

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

import datagen  # noqa: E402
import workloads  # noqa: E402
from stats import latency_summary, scaled_latencies  # noqa: E402
from tracing import (  # noqa: E402
    Span,
    layer_metrics,
    parse_event_log,
    probe_builders,
    read_event_log_dir,
)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
PACKAGE = "polybot_data_etl_spark"
CLK_TCK = os.sysconf("SC_CLK_TCK")


def busy_jiffies() -> int:
    """user + nice + system + irq + softirq of the whole machine.
    (bench._cpu_jiffies reports only steal and the total.)"""
    with open("/proc/stat") as fh:
        v = [int(x) for x in fh.readline().split()[1:8]]
    user, nice, system, _idle, _iowait, irq, softirq = v
    return user + nice + system + irq + softirq


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment(jvm_options: str) -> None:
    """Keep every file the run writes inside WORK, give every JVM Spark
    launches the workload's JIT options, and let Spark's Python workers
    import the engine from the repository root."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # temp files here, no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} {jvm_options}".strip()
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    import tempfile

    tempfile.tempdir = tmp
    sys.path.insert(0, ROOT)


def start_session(trace: bool, cores: int):
    from polybot_data_etl_spark.session import build_session

    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        # The driver JVM is the executor in local mode; 4g leaves room on
        # a 15 GiB machine for the Python workers and the OS.
        "spark.driver.memory": "4g",
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Dderby.system.home={os.path.join(WORK, 'derby')}"
        ),
    }
    if trace:
        evdir = os.path.join(WORK, "eventlog")
        shutil.rmtree(evdir, ignore_errors=True)
        os.makedirs(evdir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + evdir,
                "spark.eventLog.compress": "false",
            }
        )
    spark = build_session(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=2 * cores,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM this process launched to exit
    (its Python workers exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the launched JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Tracer:
    """Spans around the benchmark's calls into the engine, kept in
    memory.  With ``traced`` set, each span also tags the Spark jobs it
    starts with its own job group."""

    def __init__(self, spark, traced: bool):
        self._sc = spark.sparkContext
        self.traced = traced
        self.spans: list = []

    def begin(self, op: int, phase: str, name: str) -> Span:
        s = Span(op, phase, name, time.time())
        if self.traced:
            self._sc.setJobGroup(s.group, name)
        self.spans.append(s)
        return s

    def end(self, span: Span) -> None:
        span.end = time.time()


def run(args) -> dict:
    wl = workloads.WORKLOADS[args.workload]()
    pin_environment(wl.jvm_options)
    from bench import StealSampler, _cpu_jiffies

    rng = random.Random(args.seed)
    cores = nproc()

    t = time.time()
    sf_dir = datagen.ensure_fixture(os.path.join(WORK, "data"), wl.sf)
    wl.prepare_inputs(sf_dir, WORK)
    t_inputs = time.time() - t  # cached after a checkout's first run

    spark = start_session(args.trace, cores)
    tracer = Tracer(spark, args.trace)
    from polybot_data_etl_spark.functions.dedup import clear_pair_cache

    def start_pass():
        clear_pair_cache()
        gc.collect()

    wl.setup(spark, sf_dir, rng)
    warm_curve = []
    for p in range(wl.warm_passes):
        start_pass()
        t = time.time()
        wl.warm_pass(tracer, rng, check=(p == 0))
        warm_curve.append(round(time.time() - t, 3))

    # Timed window: whole passes until --seconds have passed (and at
    # least wl.min_timed_passes).  Throughput and CPU cost are medians
    # over passes, so one pass hit by a steal burst does not move them.
    by_kind: dict[str, list[float]] = {}
    passes: list[tuple[float, int, float]] = []  # (seconds, ops, busy CPU-s)
    pass_steal: list[float] = []
    window_spans_from = len(tracer.spans)
    sampler = StealSampler(interval=1.0).start()
    t_first = time.time()
    setup_s = t_first - T_PROCESS - t_inputs
    deadline = t_first + args.seconds
    while time.time() < deadline or len(passes) < wl.min_timed_passes:
        start_pass()
        b0, s0, t = busy_jiffies(), _cpu_jiffies(), time.time()
        lats = wl.timed_pass(tracer, rng, deadline)
        passes.append((time.time() - t, len(lats), (busy_jiffies() - b0) / CLK_TCK))
        s1 = _cpu_jiffies()
        if s0 and s1:  # (steal, total) jiffies; None off Linux
            pass_steal.append(round(100.0 * (s1[0] - s0[0]) / max(1, s1[1] - s0[1]), 2))
        for kind, lat in lats:
            by_kind.setdefault(kind, []).append(lat)
    window_s = time.time() - t_first
    steal = sampler.stop() or {}

    wl.verify()
    window_spans = tracer.spans[window_spans_from:]
    stop_session(spark)

    lat = latency_summary(scaled_latencies(by_kind))
    n_ops = lat["n"]
    busy_s = sum(p[2] for p in passes)
    e2e = {
        "setup_s": setup_s,
        "ops_per_s": statistics.median(n / s for s, n, _ in passes),
        "latency_p50_s": lat["p50_s"],
        "latency_tail_s": lat["tail_s"],
        "cpu_s_per_op": statistics.median(c / n for _, n, c in passes if n),
    }
    detail = {
        "workload": wl.name,
        "seed": args.seed,
        "trace": int(args.trace),
        "sf": wl.sf,
        "cores": cores,
        "samples": n_ops,
        "tail_percentile": lat["tail_pct"],
        "window_s": round(window_s, 3),
        "warm_pass_s": warm_curve,
        "timed_pass_s": [round(p[0], 3) for p in passes],
        "timed_pass_steal_pct": pass_steal,
        "env.steal_pct": steal.get("mean_pct"),
        "env.steal_burst_pct": steal.get("burst_pct"),
        "env.busy_cores": round(busy_s / window_s, 3),
        "inputs_s": round(t_inputs, 3),
        "failures": wl.failures[:10],
        **wl.detail(),
    }
    if args.trace:
        groups = parse_event_log(read_event_log_dir(os.path.join(WORK, "eventlog")))
        metrics = layer_metrics(
            window_spans, groups, n_ops, cores, getattr(wl, "batch_rows", 0)
        )
        metrics.update(wl.layer_extras(window_spans))
        detail["probe_builders"] = probe_builders(window_spans, groups)
        metrics["env.steal_pct"] = steal.get("mean_pct", 0.0)
        metrics["env.busy_cores"] = busy_s / window_s
        metrics["trace.ops_per_s"] = e2e["ops_per_s"]
        metrics["trace.latency_p50_s"] = e2e["latency_p50_s"]
        metrics["trace.cpu_s_per_op"] = e2e["cpu_s_per_op"]
        units = workloads.PER_LAYER_UNITS
    else:
        metrics = e2e
        units = workloads.END_TO_END_UNITS
    print("perfbench-detail " + json.dumps(detail), flush=True)
    return {
        "correct": not wl.failures,
        "attempted": wl.attempted,
        "failed": len(wl.failures),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(
            f"perfbench: no {PACKAGE}/ beside perfbench/; run from a full"
            " checkout of the repository",
            file=sys.stderr,
        )
        return 2
    result = run(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Event-log parser and span join, on a small recorded event log.

``data/small_eventlog.json`` is a Spark 4.1 event log of three
operations (q_udaf_grouped, q_agg_q1, q_dedup_embed at sf0.01), each
with a build and an exec job group, trimmed to the fields the parser
reads.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from tracing import (  # noqa: E402
    BUILD,
    EXEC,
    LAYER_MAP,
    LOAD,
    GroupStats,
    Span,
    layer_metrics,
    parse_event_log,
    read_event_log_dir,
    union_s,
)

LOG = os.path.join(HERE, "data", "small_eventlog.json")


@pytest.fixture(scope="module")
def groups():
    with open(LOG) as fh:
        return parse_event_log(fh)


def test_jobs_stages_tasks_billed_to_their_group(groups):
    counts = {g: (len(s.jobs), s.stages, s.tasks) for g, s in groups.items()}
    assert counts == {
        "pb-0-build": (1, 1, 1),
        "pb-0-exec": (2, 2, 3),
        "pb-1-build": (1, 1, 1),
        "pb-1-exec": (2, 2, 5),
        "pb-2-build": (6, 6, 9),
        "pb-2-exec": (1, 1, 1),
    }


def test_task_metrics_summed(groups):
    g = groups["pb-0-exec"]
    assert g.task_run_s == pytest.approx(3.041)
    assert g.shuffle_write_bytes == 156876
    assert g.input_bytes == 68190
    assert g.spill_bytes == 0


def test_python_worker_time_from_stage_accumulables(groups):
    # q_udaf_grouped runs its pandas UDF at execution; q_dedup_embed runs
    # its Arrow kernels inside the builder, and q_agg_q1 has none.
    assert groups["pb-0-exec"].python_s == pytest.approx(1.904)
    assert groups["pb-2-build"].python_s == pytest.approx(0.992 + 0.452)
    assert groups["pb-1-exec"].python_s == 0.0


def test_job_intervals_are_epoch_seconds(groups):
    (start, end), *_ = groups["pb-0-build"].jobs
    assert end - start == pytest.approx(0.711)
    assert 1.7e9 < start < 2e9


def test_ungrouped_jobs_and_foreign_events_are_tolerated():
    lines = [
        json.dumps({"Event": "SparkListenerJobStart", "Job ID": 0,
                    "Submission Time": 1000, "Stage IDs": [0], "Properties": {}}),
        json.dumps({"Event": "SparkListenerTaskEnd", "Stage ID": 0,
                    "Task Metrics": {"Executor Run Time": 500}}),
        json.dumps({"Event": "SparkListenerJobEnd", "Job ID": 0,
                    "Completion Time": 3000}),
        json.dumps({"Event": "SparkListenerBlockManagerAdded"}),
        "",
    ]
    g = parse_event_log(lines)
    assert g[""].jobs == [(1.0, 3.0)]
    assert g[""].task_run_s == 0.5


def test_event_log_dir_reads_rolled_files_in_order(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    for n in (10, 2, 1):
        (app / f"events_{n}_local-1").write_text(f"{n}\n")
    (app / "appstatus_local-1").write_text("skip\n")
    assert [ln.strip() for ln in read_event_log_dir(str(tmp_path))] == ["1", "2", "10"]


def test_union_merges_overlaps_and_clips():
    assert union_s([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert union_s([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == pytest.approx(2.0)
    assert union_s([], 0, 1) == 0
    assert union_s([(2, 3)], 0, 1) == 0


def _span(op, phase, name, start, end):
    s = Span(op, phase, name, start)
    s.end = end
    return s


def test_layer_metrics_split_build_and_exec():
    groups = {
        # one probe job covering 0.3 s of a 1.0 s builder call
        "pb-0-build": GroupStats(jobs=[(10.2, 10.5)], tasks=2, task_run_s=0.4),
        # two overlapping jobs covering 1.5 s of a 2.0 s execution call
        "pb-0-exec": GroupStats(
            jobs=[(11.2, 12.0), (11.8, 12.7)], stages=3, tasks=8, task_run_s=4.0,
            python_s=0.5,
        ),
        "pb-1-exec": GroupStats(jobs=[(13.0, 13.5)], stages=1, tasks=4, task_run_s=1.0),
    }
    spans = [
        _span(0, BUILD, "q_a", 10.0, 11.0),
        _span(0, EXEC, "q_a", 11.0, 13.0),
        _span(1, BUILD, "q_b", 13.0, 13.0),
        _span(1, EXEC, "q_b", 13.0, 13.5),
    ]
    m = layer_metrics(spans, groups, n_ops=2, cores=4)
    assert m["registry.build_s"] == pytest.approx((0.7 + 0.0) / 2)
    assert m["registry.build_calls"] == 1.0
    assert m["probe.jobs"] == 0.5
    assert m["probe.job_s"] == pytest.approx(0.15)
    assert m["probe.builders_with_jobs"] == 1.0
    assert m["plan.gap_s"] == pytest.approx(0.5 / 2)
    assert m["exec.job_s"] == pytest.approx((1.5 + 0.5) / 2)
    assert m["exec.jobs"] == 1.5
    assert m["exec.stages"] == 2.0
    assert m["exec.tasks"] == 6.0
    assert m["exec.core_busy_ratio"] == pytest.approx(5.0 / (4 * 2.0))
    assert m["exec.python_s"] == 0.25
    assert m["repository.jobs_per_load"] == 0.0


def test_layer_metrics_loads():
    groups = {
        "pb-0-load": GroupStats(jobs=[(1, 2), (2, 3), (3, 4)],
                                output_bytes=900, output_records=150),
        "pb-1-load": GroupStats(jobs=[(5, 6), (6, 7), (7, 8)],
                                output_bytes=1100, output_records=150),
    }
    spans = [_span(0, LOAD, "load", 1, 4), _span(1, LOAD, "load", 5, 8)]
    m = layer_metrics(spans, groups, n_ops=2, cores=4, batch_rows=5)
    assert m["repository.jobs_per_load"] == 3.0
    assert m["repository.bytes_written"] == 1000.0
    assert m["repository.rows_written_per_row"] == 30.0


def test_layer_metrics_cover_every_span_derived_layer():
    m = layer_metrics([], {}, n_ops=0, cores=4)
    derived = {k for k in LAYER_MAP if not k.startswith(("env.", "trace."))}
    assert set(m) == derived

"""Tail-percentile rule and the layer-to-end-to-end map."""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
sys.path.insert(0, BENCH_DIR)

from stats import (  # noqa: E402
    latency_summary,
    nearest_rank,
    samples_beyond,
    scaled_latencies,
    tail_percentile,
)
from tracing import LAYER_MAP  # noqa: E402
from workloads import END_TO_END_UNITS, PER_LAYER_UNITS  # noqa: E402


def test_nearest_rank_returns_a_sample():
    vals = [1.0, 2.0, 3.0, 4.0]
    assert nearest_rank(vals, 50) == 2.0
    assert nearest_rank(vals, 75) == 3.0
    assert nearest_rank(vals, 100) == 4.0
    assert nearest_rank(vals, 0) == 1.0


@pytest.mark.parametrize(
    "n, pct",
    [
        (19, None),   # p50 leaves 9 beyond
        (20, 50.0),   # p50 leaves exactly 10
        (39, 50.0),   # p75 leaves 9
        (40, 75.0),   # p75 leaves exactly 10
        (99, 75.0),   # p90 leaves 9
        (100, 90.0),
        (199, 90.0),  # p95 leaves 9
        (200, 95.0),
        (1000, 99.0),
        (10000, 99.9),
    ],
)
def test_tail_is_highest_percentile_with_ten_beyond(n, pct):
    assert tail_percentile(n) == pct
    if pct is not None:
        assert samples_beyond(n, pct) >= 10


def test_every_higher_ladder_step_has_fewer_than_ten_beyond():
    for n in range(20, 3000, 7):
        p = tail_percentile(n)
        assert samples_beyond(n, p) >= 10
        higher = [q for q in (75.0, 90.0, 95.0, 99.0, 99.9) if q > p]
        assert all(samples_beyond(n, q) < 10 for q in higher)


def test_latency_summary_states_percentile_and_count():
    lat = [float(i) for i in range(1, 41)]  # 40 samples
    s = latency_summary(lat)
    assert s == {"n": 40, "p50_s": 20.0, "tail_pct": 75.0, "tail_s": 30.0}
    # ten samples (31..40) lie beyond the reported tail
    assert sum(x > s["tail_s"] for x in lat) == 10


def test_small_sample_tail_is_the_maximum():
    s = latency_summary([3.0, 1.0, 2.0])
    assert s["tail_pct"] is None and s["tail_s"] == 3.0 and s["p50_s"] == 2.0


def test_single_kind_latencies_are_unchanged():
    lat = [0.9, 0.7, 1.3]
    assert scaled_latencies({"merge": lat}) == lat
    assert scaled_latencies({}) == []


def test_scaled_kinds_share_the_geometric_mean_median():
    fast = [0.1, 0.2, 0.3]  # median 0.2
    slow = [1.6, 1.8, 3.6]  # median 1.8; geometric mean of medians 0.6
    out = scaled_latencies({"fast": fast, "slow": slow})
    assert out == pytest.approx([0.3, 0.6, 0.9, 1.6 / 3, 0.6, 1.2])
    assert latency_summary(out)["p50_s"] == pytest.approx(0.6)


def test_one_kind_k_times_slower_moves_the_median_by_k_to_one_over_kinds():
    kinds = {"a": [0.1] * 5, "b": [0.2] * 5, "c": [0.4] * 5}
    base = latency_summary(scaled_latencies(kinds))["p50_s"]
    # Raw, "b" slowing past "c" would move the pooled median from 0.2 to 0.4.
    kinds["b"] = [0.45] * 5
    slower = latency_summary(scaled_latencies(kinds))["p50_s"]
    assert slower / base == pytest.approx((0.45 / 0.2) ** (1 / 3))


def test_layer_map_targets_are_end_to_end_metrics_and_workloads():
    with open(os.path.join(os.path.dirname(BENCH_DIR), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e = {m["name"] for m in bench["end_to_end"]}
    workloads = {w["name"] for w in bench["workloads"]}
    assert e2e == set(END_TO_END_UNITS)
    for name, (unit, moves, workload) in LAYER_MAP.items():
        assert moves in e2e | {"none"}, name
        assert workload in workloads | {"all"}, name
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == PER_LAYER_UNITS
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END_UNITS

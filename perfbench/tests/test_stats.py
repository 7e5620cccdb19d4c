"""The benchmark's own arithmetic: tail percentile choice, quartile spread,
self time, event-log parsing and attribution. Run with
``python3 -m pytest perfbench/tests -q`` from the repository root."""

import json
import os
import statistics

import pytest

from perfbench import stats
from perfbench.layers import PER_LAYER

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.mark.parametrize(
    "n, want", [(10, None), (11, 9), (20, 50), (100, 90), (101, 90), (1000, 99)]
)
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    p = stats.tail_percentile(n)
    assert p == want
    if p is not None:
        # rank p*n/100 leaves at least ten samples above it; p + 1 would not
        assert p * n <= 100 * (n - 10) < (p + 1) * n


def test_quantile_matches_linear_interpolation():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert stats.quantile(xs, 0.5) == 3.0
    assert stats.quantile(xs, 0.9) == pytest.approx(4.6)
    assert stats.quantile([7.0], 0.9) == 7.0


def test_quartile_spread_uses_statistics_quantiles():
    xs = [10.0, 11.0, 12.0, 13.0, 14.0, 15.0, 16.0, 17.0, 18.0, 19.0]
    q1, q2, q3, spread = stats.quartile_spread(xs)
    want = statistics.quantiles(xs, n=4)
    assert (q1, q2, q3) == tuple(want)
    assert spread == pytest.approx((want[2] - want[0]) / want[1])


def test_union_length_merges_overlaps():
    assert stats.union_length([(0, 2), (1, 3), (5, 6), (5.5, 5.7)]) == 4
    assert stats.union_length([]) == 0


def test_self_time_subtracts_overlapping_children_once():
    spans = [
        {"id": 1, "parent": None, "start": 0.0, "end": 10.0},
        # two concurrent children covering [2, 7] together
        {"id": 2, "parent": 1, "start": 2.0, "end": 6.0},
        {"id": 3, "parent": 1, "start": 4.0, "end": 7.0},
        {"id": 4, "parent": 2, "start": 3.0, "end": 4.0},
        # a child running past its parent's end is clipped to the parent
        {"id": 5, "parent": 3, "start": 6.5, "end": 9.0},
    ]
    st = stats.self_times(spans)
    assert st[1] == pytest.approx(5.0)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(2.5)
    assert st[4] == pytest.approx(1.0)
    assert st[5] == pytest.approx(2.5)


def _ev(**kw):
    return json.dumps(kw)


CANNED_LOG = [
    _ev(Event="SparkListenerLogStart"),
    json.dumps({"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
                "Stage IDs": [0], "Properties": {stats.SPAN_PROPERTY: "7"}}),
    json.dumps({"Event": "SparkListenerStageSubmitted",
                "Stage Info": {"Stage ID": 0, "Stage Attempt ID": 0},
                "Properties": {stats.SPAN_PROPERTY: "7"}}),
    json.dumps({"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Stage Attempt ID": 0,
                "Task Info": {"Launch Time": 1100, "Finish Time": 1600},
                "Task Metrics": {"Executor Run Time": 400, "Executor CPU Time": 300_000_000,
                                 "Executor Deserialize Time": 50, "Result Serialization Time": 10,
                                 "JVM GC Time": 20, "Memory Bytes Spilled": 5,
                                 "Disk Bytes Spilled": 7,
                                 "Shuffle Write Metrics": {"Shuffle Bytes Written": 1000},
                                 "Input Metrics": {"Bytes Read": 4096}}}),
    json.dumps({"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1700}),
    # a job submitted with no span property
    json.dumps({"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2000,
                "Stage IDs": [1], "Properties": {}}),
    json.dumps({"Event": "SparkListenerStageSubmitted",
                "Stage Info": {"Stage ID": 1, "Stage Attempt ID": 0}, "Properties": {}}),
    json.dumps({"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Stage Attempt ID": 0,
                "Task Info": {"Launch Time": 2100, "Finish Time": 2300},
                "Task Metrics": {"Executor Run Time": 200, "Executor CPU Time": 100_000_000}}),
    "",
]


def test_event_log_attribution_by_span_property():
    ev = stats.parse_event_log(CANNED_LOG)
    assert [j["span"] for j in ev["jobs"]] == ["7", None]
    assert ev["jobs"][0]["submit"] == 1.0 and ev["jobs"][0]["end"] == 1.7
    t0 = ev["tasks"][0]
    assert t0["span"] == "7"
    assert t0["cpu_s"] == pytest.approx(0.3)
    assert t0["gc_s"] == pytest.approx(0.02)
    # 500 ms on the executor, 460 ms of it deserializing/running/serializing
    assert t0["sched_s"] == pytest.approx(0.04)
    assert t0["spill"] == 12 and t0["shuffle_write"] == 1000 and t0["input_bytes"] == 4096

    by_span = stats.attribute(ev["tasks"], ev["jobs"])
    assert by_span["7"]["tasks"] == 1 and by_span["7"]["jobs"] == 1
    assert by_span[None]["cpu_s"] == pytest.approx(0.1)
    assert by_span[None]["jobs"] == 1


def test_driver_gap_is_span_time_without_running_tasks():
    ev = stats.parse_event_log(CANNED_LOG)
    # [1.0, 2.5] holds task time [1.1, 1.6] and [2.1, 2.3]
    assert stats.driver_gap(1.0, 2.5, ev["tasks"]) == pytest.approx(1.5 - 0.7)


def test_benchmark_json_lists_every_per_layer_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    listed = [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]]
    assert listed == [(n, u, b) for n, u, b, _ in PER_LAYER]

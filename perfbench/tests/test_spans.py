"""Span self-time arithmetic and the disabled tracer.

Run with: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import spans  # noqa: E402
from spans import Span  # noqa: E402


def span(i, start, end, parent=None):
    return Span(i, parent, f"s{i}", start, end)


def test_self_time_without_children_is_duration():
    assert spans.self_time(span(1, 2.0, 5.0), []) == pytest.approx(3.0)


def test_self_time_subtracts_disjoint_children():
    parent = span(1, 0.0, 10.0)
    kids = [span(2, 1.0, 3.0, 1), span(3, 5.0, 6.5, 1)]
    assert spans.self_time(parent, kids) == pytest.approx(10.0 - 2.0 - 1.5)


def test_self_time_counts_overlapping_children_once():
    parent = span(1, 0.0, 10.0)
    kids = [span(2, 1.0, 4.0, 1), span(3, 3.0, 6.0, 1), span(4, 5.5, 7.0, 1)]
    assert spans.self_time(parent, kids) == pytest.approx(10.0 - 6.0)


def test_self_time_clips_children_to_the_parent():
    parent = span(1, 2.0, 6.0)
    kids = [span(2, 0.0, 3.0, 1), span(3, 5.0, 9.0, 1), span(4, 7.0, 8.0, 1)]
    assert spans.self_time(parent, kids) == pytest.approx(4.0 - 1.0 - 1.0)


def test_self_times_add_up_to_the_root():
    root = span(1, 0.0, 10.0)
    a, b = span(2, 1.0, 4.0, 1), span(3, 4.0, 9.0, 1)
    a1 = span(4, 1.5, 3.0, 2)
    total = (spans.self_time(root, [a, b]) + spans.self_time(a, [a1])
             + spans.self_time(b, []) + spans.self_time(a1, []))
    assert total == pytest.approx(root.dur)


def test_busy_time_merges_touching_intervals():
    assert spans.busy_time([(0, 1), (1, 2), (4, 5)]) == pytest.approx(3.0)
    assert spans.busy_time([]) == 0.0


def test_tracer_records_nesting_and_skips_when_disabled():
    tr = spans.Tracer(True)
    with tr.span("outer"):
        with tr.span("inner", q="x"):
            pass
    outer, inner = tr.spans
    assert inner.parent == outer.id and inner.attrs == {"q": "x"}
    assert outer.start <= inner.start <= inner.end <= outer.end
    off = spans.Tracer(False)
    with off.span("outer") as sp:
        assert sp is None
    assert off.spans == []


def test_event_log_attribution(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "pb7"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task End Reason": {"Reason": "Success"},
         "Task Metrics": {"Executor Run Time": 1500, "Executor CPU Time": 10**9,
                          "JVM GC Time": 20,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 100}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task End Reason": {"Reason": "ExceptionFailure"},
         "Task Metrics": {"Shuffle Read Metrics": {"Local Bytes Read": 60,
                                                   "Remote Bytes Read": 40}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2,
         "Task End Reason": {"Reason": "Success"},
         "Task Metrics": {"Executor Run Time": 999}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 0, "Submission Time": 1000, "Completion Time": 3000}},
    ]
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    (app / "events_1_local-1").write_text("\n".join(map(__import__("json").dumps, events)))
    g = spans.read_event_logs(str(tmp_path))
    assert set(g) == {"pb7"}
    pb7 = g["pb7"]
    assert (pb7["jobs"], pb7["tasks"]) == (1, 2)
    assert pb7["task_s"] == pytest.approx(1.5) and pb7["cpu_s"] == pytest.approx(1.0)
    assert pb7["shuffle_read_bytes"] == 100 and pb7["shuffle_write_bytes"] == 100
    assert pb7["stage_ivs"] == [(1.0, 3.0)]

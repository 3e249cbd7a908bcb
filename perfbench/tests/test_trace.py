"""Event-log folding and span arithmetic of the traced run."""

import json

import pytest

from perfbench import trace
from perfbench.trace import Span


def _ev(**kw):
    return json.dumps(kw)


def _task(stage, launch, finish, cpu_ns, run_ms, gc_ms=0, shuffle=0,
          spill=0, py_ms=None):
    acc = [] if py_ms is None else [
        {"Name": "time to run Python workers", "Update": py_ms}]
    return _ev(**{
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Launch Time": launch, "Finish Time": finish,
                      "Accumulables": acc},
        "Task Metrics": {
            "Executor CPU Time": cpu_ns, "Executor Run Time": run_ms,
            "JVM GC Time": gc_ms, "Disk Bytes Spilled": spill,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle}},
    })


def _group(g):
    return {"spark.jobGroup.id": g} if g else {}


TINY_LOG = [
    # an untraced job: no group, must be ignored
    _ev(Event="SparkListenerJobStart", **{"Job ID": 0, "Submission Time": 0,
                                          "Properties": {}}),
    _ev(Event="SparkListenerStageSubmitted",
        **{"Stage Info": {"Stage ID": 0}, "Properties": {}}),
    _task(0, 0, 500, 9e9, 500),
    _ev(Event="SparkListenerJobEnd", **{"Job ID": 0, "Completion Time": 600}),
    # annotate: one job, one stage, two tasks, one with Python time
    _ev(Event="SparkListenerJobStart",
        **{"Job ID": 1, "Submission Time": 1000,
           "Properties": _group("perfbench:annotate")}),
    _ev(Event="SparkListenerStageSubmitted",
        **{"Stage Info": {"Stage ID": 1},
           "Properties": _group("perfbench:annotate")}),
    _task(1, 1000, 2000, 0.5e9, 1000, gc_ms=100, shuffle=2**20,
          py_ms=400),
    _task(1, 1000, 4000, 1.5e9, 3000, spill=2**21),
    _ev(Event="SparkListenerJobEnd", **{"Job ID": 1, "Completion Time": 4100}),
    # linking: two jobs sharing one group
    _ev(Event="SparkListenerJobStart",
        **{"Job ID": 2, "Submission Time": 5000,
           "Properties": _group("perfbench:linking")}),
    _ev(Event="SparkListenerStageSubmitted",
        **{"Stage Info": {"Stage ID": 2},
           "Properties": _group("perfbench:linking")}),
    _task(2, 5000, 5500, 0.25e9, 500),
    _ev(Event="SparkListenerJobEnd", **{"Job ID": 2, "Completion Time": 5600}),
    _ev(Event="SparkListenerJobStart",
        **{"Job ID": 3, "Submission Time": 6000,
           "Properties": _group("perfbench:linking")}),
    _ev(Event="SparkListenerJobEnd", **{"Job ID": 3, "Completion Time": 6100}),
]


def test_fold_event_log_per_group():
    g = trace.fold_event_log(TINY_LOG)
    assert set(g) == {"annotate", "linking"}
    ann, lnk = g["annotate"], g["linking"]
    assert (ann.jobs, ann.stages, ann.tasks) == (1, 1, 2)
    assert ann.task_cpu_s == pytest.approx(0.5 + 0.4 + 1.5)
    assert ann.gc_s == pytest.approx(0.1)
    assert ann.shuffle_mb == pytest.approx(1.0)
    assert ann.spill_mb == pytest.approx(2.0)
    assert sorted(ann.task_durations) == [1.0, 3.0]
    assert ann.job_spans == [(1.0, 4.1)]
    assert (lnk.jobs, lnk.stages, lnk.tasks) == (2, 1, 1)
    assert lnk.job_spans == [(5.0, 5.6), (6.0, 6.1)]


def test_union_length_and_skew():
    assert trace.union_length([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4)
    assert trace.union_length([]) == 0
    assert trace.skew([1.0, 1.0, 4.0]) == pytest.approx(4.0)
    assert trace.skew([]) == 0.0


def test_self_time_subtracts_children():
    spans = [
        Span("run_kg", "materialize", 0.0, 10.0),
        Span("split", "ingest", 1.0, 3.0, parent=0),
        Span("fan_out", "fanout", 1.5, 2.0, parent=1),
        Span("annotate", "annotate", 4.0, 8.0, parent=0),
    ]
    assert trace.self_times(spans) == pytest.approx([4.0, 1.5, 0.5, 4.0])
    assert trace.layer_self(spans) == pytest.approx(
        {"materialize": 4.0, "ingest": 1.5, "fanout": 0.5, "annotate": 4.0})


def test_self_time_overlapping_children_counted_once():
    spans = [Span("p", "a", 0.0, 10.0), Span("c1", "b", 1.0, 5.0, parent=0),
             Span("c2", "b", 4.0, 6.0, parent=0),
             Span("c3", "b", 9.0, 12.0, parent=0)]
    # children cover [1, 6] and [9, 10] of the parent's interval
    assert trace.self_times(spans)[0] == pytest.approx(4.0)


def test_coverage_is_self_time_over_wall():
    spans = [Span("a", "x", 0.0, 2.0), Span("b", "y", 1.0, 1.5, parent=0),
             Span("c", "z", 3.0, 4.0)]
    # self times 1.5 + 0.5 + 1.0 = 3.0 of a 6 s wall
    assert trace.coverage(spans, 6.0) == pytest.approx(0.5)
    assert trace.coverage([], 6.0) == 0.0

import json

import pytest

import spans
from spans import Span


def S(id, name, parent, start, end):
    return Span(id=id, name=name, parent=parent, op=None, start=start, end=end)


def test_self_time_subtracts_children():
    tree = [
        S(0, "pass", None, 0.0, 10.0),
        S(1, "plans.build", 0, 1.0, 3.0),
        S(2, "sinks.write", 0, 4.0, 9.0),
        S(3, "spark.collect", 2, 5.0, 6.0),
    ]
    st = spans.self_times(tree)
    assert st == {0: pytest.approx(3.0), 1: pytest.approx(2.0),
                  2: pytest.approx(4.0), 3: pytest.approx(1.0)}
    # self times partition the root's interval
    assert sum(st.values()) == pytest.approx(10.0)


def test_overlapping_children_count_once_and_are_clipped():
    tree = [
        S(0, "pass", None, 0.0, 10.0),
        S(1, "sinks.write", 0, 2.0, 6.0),
        S(2, "sinks.write", 0, 4.0, 8.0),  # overlaps the first
        S(3, "sinks.write", 0, 9.0, 12.0),  # runs past the parent
    ]
    assert spans.self_times(tree)[0] == pytest.approx(10.0 - 6.0 - 1.0)


def test_layer_self_times():
    tree = [
        S(0, "pass", None, 0.0, 10.0),
        S(1, "plans.build", 0, 0.0, 2.0),
        S(2, "plans.build", 0, 2.0, 3.0),
        S(3, "operators.serve", 0, 3.0, 7.0),
        S(4, "sources.snapshot", 3, 3.5, 4.5),
    ]
    by_layer = spans.layer_self_times(tree)
    assert by_layer["plans"] == pytest.approx(3.0)
    assert by_layer["operators"] == pytest.approx(3.0)
    assert by_layer["sources"] == pytest.approx(1.0)
    assert set(by_layer) == set(spans.LAYERS)


def test_tracer_nests_spans_and_inherits_op():
    tr = spans.Tracer()
    with tr.span("pass") as root:
        with tr.span("operators.serve", op=4):
            with tr.span("sources.snapshot") as inner:
                pass
    assert [s.parent for s in tr.spans] == [None, root.id, 1]
    assert inner.op == 4
    assert all(s.end >= s.start for s in tr.spans)
    assert {s.id for s in spans.subtree(tr.spans, tr.spans[1])} == {1, 2}


def test_event_log_attributes_tasks_to_groups(tmp_path):
    g = spans.GROUP_PREFIX
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": f"{g}1"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {"spark.jobGroup.id": f"{g}2"}},
        {"Event": "SparkListenerStageSubmitted",
         "Stage Info": {"Stage ID": 0, "Submission Time": 1000}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "sparkPlanInfo": {"metrics": [], "children": [{"metrics": [
             {"name": "time to run Python workers", "accumulatorId": 77}],
             "children": []}]}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Launch Time": 1250, "Failed": False,
                       "Accumulables": [{"ID": 77, "Update": "40"}]},
         "Task Metrics": {"Executor Run Time": 500, "Executor CPU Time": 4 * 10**8,
                          "JVM GC Time": 10,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 64},
                          "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                                   "Local Bytes Read": 32},
                          "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 8,
                          "Input Metrics": {"Bytes Read": 1024}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2,
         "Task Info": {"Launch Time": 5, "Failed": True, "Accumulables": []},
         "Task Metrics": {"Executor Run Time": 100}},
    ]
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in events))
    log = spans.EventLog(str(tmp_path))
    one = log.stats({f"{g}1"})
    assert (one.jobs, one.stages, one.tasks, one.tasks_failed) == (1, 1, 1, 0)
    assert one.executor_run_s == pytest.approx(0.5)
    assert one.executor_cpu_s == pytest.approx(0.4)
    assert one.task_queue_s == pytest.approx(0.25)
    assert one.shuffle_write_bytes == 64 and one.shuffle_read_bytes == 32
    assert one.spill_bytes == 8 and one.input_bytes == 1024
    assert one.metrics()["spark.python_run_ms"] == 40
    both = log.stats(None)
    assert (both.jobs, both.tasks, both.tasks_failed) == (2, 2, 1)

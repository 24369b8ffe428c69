"""Self-time arithmetic, the event-log parser and job attribution."""

import json

import pytest

import tracing


def span(sid, parent, t0, t1, layer="operators", op="q1", pass_no=2, error=None):
    return {"id": sid, "parent": parent, "layer": layer, "name": sid, "op": op,
            "pass": pass_no, "t0": t0, "t1": t1, "error": error}


def test_union_length_merges_overlaps_and_clips():
    assert tracing.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert tracing.union_length([(0, 10)], lo=2, hi=5) == 3
    assert tracing.union_length([(0, 1)], lo=2, hi=5) == 0
    assert tracing.union_length([]) == 0


def test_self_time_subtracts_children_not_grandchildren():
    spans = [
        span("a", None, 0.0, 10.0, layer="plans"),
        span("b", "a", 1.0, 4.0),
        span("c", "b", 2.0, 3.0, layer="sources"),
        span("d", "a", 6.0, 7.0, layer="sources"),
    ]
    selfs = tracing.self_times(spans)
    assert selfs == pytest.approx({"a": 6.0, "b": 2.0, "c": 1.0, "d": 1.0})
    assert sum(selfs.values()) == pytest.approx(10.0)


def _event_log():
    def task(stage, run_ms, reason="Success", rows=0, sr=0, sw=0, spill=0):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task End Reason": {"Reason": reason},
                "Task Metrics": {"Executor Run Time": run_ms, "Disk Bytes Spilled": spill,
                                 "Input Metrics": {"Records Read": rows},
                                 "Shuffle Read Metrics": {"Remote Bytes Read": sr, "Local Bytes Read": 1},
                                 "Shuffle Write Metrics": {"Shuffle Bytes Written": sw}}}

    events = [
        {"Event": "SparkListenerLogStart"},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "b"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1},
         "Properties": {"spark.jobGroup.id": "b"}},
        task(1, 400, rows=10, sr=5, sw=7),
        task(1, 100, reason="ExceptionFailure", spill=3),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1500,
         "Job Result": {"Result": "JobSucceeded"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 6200,
         "Stage IDs": [2], "Properties": {"spark.jobGroup.id": "d"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 2},
         "Properties": {"spark.jobGroup.id": "d"}},
        task(2, 250),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 6400,
         "Job Result": {"Result": "JobSucceeded"}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 9000,
         "Stage IDs": [3], "Properties": {"spark.jobGroup.id": tracing.UNTRACED_GROUP}},
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 9100,
         "Job Result": {"Result": "JobSucceeded"}},
        {"Event": "SparkListenerJobStart", "Job ID": 3, "Submission Time": 9200,
         "Stage IDs": [4], "Properties": {}},
        {"Event": "SparkListenerJobEnd", "Job ID": 3, "Completion Time": 9300,
         "Job Result": {"Result": "JobFailed"}},
    ]
    return [json.dumps(e) for e in events]


def test_parse_event_log_jobs_stages_and_skips():
    jobs, stages = tracing.parse_event_log(_event_log())
    assert jobs[0] == {"group": "b", "t0": 1.0, "t1": 1.5, "skipped": 1}
    assert jobs[1]["skipped"] == 0 and jobs[3]["group"] is None
    assert stages[1] == {"group": "b", "tasks": 2, "failed_tasks": 1, "run_s": 0.5,
                         "input_rows": 10, "shuffle_read_bytes": 7, "shuffle_write_bytes": 7,
                         "spill_bytes": 3}


def test_ledger_attributes_jobs_to_innermost_span():
    spans = [
        span("a", None, 0.0, 10.0, layer="plans"),
        span("b", "a", 0.5, 4.0),
        span("d", "a", 6.0, 7.0, layer="sources", error="ValueError"),
    ]
    jobs, stages = tracing.parse_event_log(_event_log())
    led = tracing.ledger(spans, jobs, stages, pass_no=2)
    ops, src, plans = (led["rows"][k] for k in ("operators", "sources", "plans"))
    assert (ops["calls"], ops["jobs"], ops["tasks"], ops["failed_tasks"]) == (1, 1, 2, 1)
    assert ops["stages_skipped"] == 1
    assert ops["job_wait_s"] == pytest.approx(0.5)
    assert ops["driver_s"] == pytest.approx(3.5 - 0.5)
    assert ops["executor_run_s"] == pytest.approx(0.5)
    assert (src["jobs"], src["errors"], src["job_wait_s"]) == (1, 1, pytest.approx(0.2))
    assert (plans["calls"], plans["jobs"], plans["self_s"]) == (1, 0, pytest.approx(5.5))
    # the untraced job is expected; the one with no group is not
    assert led["unattributed_jobs"] == 1
    by_op = tracing.ledger(spans, jobs, stages, pass_no=2, by_op=True)["rows"]
    assert set(by_op) == {"q1/plans", "q1/operators", "q1/sources"}
    assert tracing.ledger(spans, jobs, stages, pass_no=0)["rows"]["operators"]["calls"] == 0


class _FakeSc:
    def __init__(self):
        self.groups = []

    def setJobGroup(self, group, desc, interrupt):
        self.groups.append(group)


def test_span_sets_job_group_and_records_error_once():
    sc = _FakeSc()
    tr = tracing.Tracer(sc)
    tr.enabled = True
    with pytest.raises(KeyError):
        with tr.span("plans", "outer"):
            with tr.span("sources", "inner"):
                raise KeyError("x")
    assert sc.groups == ["s0", "s1", "s0", tracing.UNTRACED_GROUP]
    assert [s["error"] for s in tr.spans] == [None, "KeyError"]
    tr.enabled = False
    with tr.span("plans", "off"):
        pass
    assert len(tr.spans) == 2


def test_traced_function_pickles_as_the_original():
    import pickle

    sc = _FakeSc()
    tr = tracing.Tracer(sc)
    w = tracing._Traced(tr, "operators", tracing.union_length)
    tr.enabled = True
    assert w([(0, 1)]) == 1 and tr.spans[0]["layer"] == "operators"
    assert pickle.loads(pickle.dumps(w)) is tracing.union_length


def test_counted_sets_the_pass_group_only_when_counting_passes():
    sc = _FakeSc()
    tr = tracing.Tracer(sc)
    with tr.counted():
        pass
    assert sc.groups == []
    tr.count_passes, tr.pass_no = True, 3
    with pytest.raises(KeyError):
        with tr.counted():
            raise KeyError("x")
    assert sc.groups == ["pass3", tracing.UNTRACED_GROUP]


def test_pass_totals_count_only_the_pass_jobs_and_stages():
    def stage(group, tasks):
        return {"group": group, "tasks": tasks, "failed_tasks": 0, "run_s": 1.0,
                "input_rows": 10 * tasks, "shuffle_read_bytes": 1,
                "shuffle_write_bytes": 100 * tasks, "spill_bytes": 0}

    jobs = {0: {"group": "pass1"}, 1: {"group": "pass1"}, 2: {"group": tracing.UNTRACED_GROUP},
            3: {"group": "pass2"}, 4: {"group": None}}
    stages = {0: stage("pass1", 2), 1: stage("pass1", 3), 2: stage(tracing.UNTRACED_GROUP, 7),
              3: stage("pass2", 1)}
    assert tracing.pass_totals(jobs, stages, 1) == {
        "jobs": 2, "tasks": 5, "input_rows": 50, "shuffle_write_bytes": 500}
    assert tracing.pass_totals(jobs, stages, 2)["jobs"] == 1
    assert tracing.pass_totals(jobs, stages, 0) == dict.fromkeys(tracing.PASS_TOTALS, 0)

"""Spans and event-log attribution by job group."""

import json

import pytest

from perfbench.trace import Attribution, Span, Tracer, parse_event_log


class FakeContext:
    """Records the job group each thread would tag its jobs with."""

    def __init__(self):
        self.group = None

    def setJobGroup(self, gid, desc):
        self.group = gid

    def setLocalProperty(self, key, value):
        if key == "spark.jobGroup.id":
            self.group = value


def test_spans_nest_and_restore_the_job_group():
    sc = FakeContext()
    tr = Tracer("r", sc, enabled=True)
    with tr.span("outer") as outer:
        assert sc.group == outer.id
        with tr.span("inner") as inner:
            assert sc.group == inner.id
        assert sc.group == outer.id
    assert sc.group is None
    by = {s.name: s for s in tr.spans}
    assert by["inner"].parent == by["outer"].id
    assert by["outer"].parent is None
    assert by["outer"].start <= by["inner"].start <= by["inner"].end <= by["outer"].end


def test_disabled_tracer_records_and_tags_nothing():
    sc = FakeContext()
    tr = Tracer("r", sc, enabled=False)
    with tr.span("x") as s:
        assert s is None
    assert tr.spans == [] and sc.group is None


def test_wrap_and_unwrap():
    class Engine:
        def work(self, n):
            return list(range(n))

    tr = Tracer("r", None, enabled=True)
    tr.wrap(Engine, "work", "engine.work", lambda s, a, out: s.attrs.update(n=len(out)))
    assert Engine().work(3) == [0, 1, 2]
    tr.unwrap_all()
    Engine().work(1)
    assert [(s.name, s.attrs["n"]) for s in tr.spans] == [("engine.work", 3)]


def _log(*events):
    return [json.dumps(e) for e in events]


def _task(stage, run_ms, launch, finish, **metrics):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Launch Time": launch, "Finish Time": finish},
            "Task Metrics": {"Executor Run Time": run_ms, "JVM GC Time": 5,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": metrics.get("sw", 0)},
                             "Shuffle Read Metrics": {"Fetch Wait Time": 2,
                                                      "Remote Bytes Read": 0,
                                                      "Local Bytes Read": 7},
                             "Input Metrics": {"Bytes Read": 100},
                             "Output Metrics": {"Bytes Written": 50, "Records Written": 4}}}


def test_stages_are_attributed_to_spans_by_job_group():
    spans = [
        Span("r:1", "ingest.run", None, "r", 100.0, 110.0),
        Span("r:2", "cdc.apply", "r:1", "r", 101.0, 109.0),
        Span("r:3", "read_conversation", None, "r", 111.0, 112.0),
    ]
    lines = _log(
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 102000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "r:2"}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 0, "Submission Time": 102000, "Completion Time": 103000}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 1, "Submission Time": 103000, "Completion Time": 106000}},
        _task(0, 400, 102000, 102500, sw=1000),
        _task(0, 600, 102000, 102600, sw=500),
        _task(1, 900, 103000, 105000),
        _task(1, 100, 103000, 103200),
        _task(1, 100, 103000, 103200),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 106000},
        # a job of another span, and one with no span at all
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 111200,
         "Stage IDs": [2], "Properties": {"spark.jobGroup.id": "r:3"}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 2, "Submission Time": 111200, "Completion Time": 111800}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 111800},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 1,
         "Stage IDs": [3], "Properties": {}},
    )
    jobs, stages = parse_event_log(lines)
    attr = Attribution(spans, jobs, stages)
    apply_span, run_span, lookup_span = spans[1], spans[0], spans[2]

    assert [j.id for j in attr.jobs(apply_span)] == [0]
    assert [j.id for j in attr.jobs(run_span)] == [0]  # through its child
    assert attr.jobs(run_span, deep=False) == []
    assert [j.id for j in attr.jobs(lookup_span)] == [1]

    st = attr.stages_of(apply_span)
    assert [s.id for s in st] == [0, 1]
    assert st[0].run_s == pytest.approx(1.0) and st[0].shuffle_write_bytes == 1500
    assert st[0].wall_s == pytest.approx(1.0)
    assert st[1].skew == pytest.approx(2.0 / 0.2)
    assert st[1].output_records == 12 and st[1].input_bytes == 300
    assert st[1].fetch_wait_s == pytest.approx(0.006)

    # apply: 8 s span, its job covers 102..106 -> 4 s on the driver
    assert attr.driver_time(apply_span) == pytest.approx(4.0)
    # run: 10 s, its child covers 8 s
    assert attr.self_time(run_span) == pytest.approx(2.0)
    assert attr.unattributed(run_span) == pytest.approx(2.0)
    assert attr.unattributed(apply_span) == pytest.approx(4.0)

"""Event log -> jobs -> span reports, against a small fixture log."""

from __future__ import annotations

import json
import threading

import pytest

from spans import Span, Tracer, attach, covered, parse_event_log, under


def _ev(kind: str, **fields) -> str:
    return json.dumps({"Event": kind, **fields})


def _task(stage: int, launch_ms: int, finish_ms: int, run_ms: int, **metrics) -> str:
    return _ev(
        "SparkListenerTaskEnd",
        **{
            "Stage ID": stage,
            "Task Info": {"Launch Time": launch_ms, "Finish Time": finish_ms},
            "Task Metrics": {
                "Executor Run Time": run_ms,
                "Executor Deserialize Time": 5,
                "Result Serialization Time": 0,
                "JVM GC Time": 2,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": metrics.get("shuffle", 0)},
                "Input Metrics": {"Bytes Read": 100, "Records Read": metrics.get("records", 0)},
            },
        },
    )


def _stage(kind: str, stage: int, **times) -> str:
    return _ev(kind, **{"Stage Info": {"Stage ID": stage, **times}})


# Span "outer" (parent) covers 1000.0-1000.7 s; "inner" (its child) covers
# 1000.25-1000.55 s. Job 0 belongs to outer, job 1 to inner. Stage 1 is
# listed by job 0 but never runs and has no timestamps; stage 0 is a
# shuffle stage that job 1 lists again and skips.
FIXTURE = [
    _ev("SparkListenerLogStart", **{"Spark Version": "4.1.2"}),
    _ev(
        "SparkListenerJobStart",
        **{
            "Job ID": 0,
            "Submission Time": 1_000_000,
            "Stage IDs": [0, 1],
            "Properties": {"spark.jobGroup.id": "outer#0"},
        },
    ),
    _stage("SparkListenerStageSubmitted", 0, **{"Submission Time": 1_000_010}),
    _task(0, 1_000_020, 1_000_120, 80, shuffle=64, records=10),
    _task(0, 1_000_030, 1_000_110, 70, shuffle=36, records=5),
    _stage(
        "SparkListenerStageCompleted", 0,
        **{"Submission Time": 1_000_010, "Completion Time": 1_000_130},
    ),
    _stage("SparkListenerStageCompleted", 1),
    _ev("SparkListenerJobEnd", **{"Job ID": 0, "Completion Time": 1_000_200}),
    _ev(
        "SparkListenerJobStart",
        **{
            "Job ID": 1,
            "Submission Time": 1_000_300,
            "Stage IDs": [0, 2],
            "Properties": {"spark.jobGroup.id": "inner#1"},
        },
    ),
    _stage("SparkListenerStageSubmitted", 2, **{"Submission Time": 1_000_305}),
    _task(2, 1_000_310, 1_000_490, 150, records=7),
    _stage(
        "SparkListenerStageCompleted", 2,
        **{"Submission Time": 1_000_305, "Completion Time": 1_000_495},
    ),
    _ev("SparkListenerJobEnd", **{"Job ID": 1, "Completion Time": 1_000_500}),
    '{"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task In',  # log cut short
]

SPANS = [
    Span("inner#1", "inner", "child", 1000.25, 1000.55, parent="outer#0"),
    Span("outer#0", "outer", "parent", 1000.0, 1000.7),
]


def test_stages_credited_once_and_skipped_stages_dropped():
    jobs = parse_event_log(FIXTURE)
    assert [j.job_id for j in jobs] == [0, 1]
    j0, j1 = jobs
    assert [s.stage_id for s in j0.stages] == [0]
    assert [s.stage_id for s in j1.stages] == [2]
    assert j0.total("tasks") == 2 and j1.total("tasks") == 1
    assert j0.total("shuffle_write_bytes") == 100
    assert j0.total("input_records") == 15
    assert j0.total("run_s") == pytest.approx(0.150)
    assert j0.total("gc_s") == pytest.approx(0.004)
    # launch -> finish minus run and deserialise time
    assert j0.total("scheduler_delay_s") == pytest.approx((100 - 85 + 80 - 75) / 1000)
    assert j0.first_launch == pytest.approx(1000.02)
    assert (j0.submitted, j0.completed) == (pytest.approx(1000.0), pytest.approx(1000.2))


def test_stage_without_timestamps_is_never_used_in_a_difference():
    from spans import Stage

    jobs = parse_event_log(FIXTURE)
    # Stage 1 never ran: it has no submission time, no tasks, and no job
    # counts it, so no epoch-sized wait can come from it.
    assert all(s.stage_id != 1 for j in jobs for s in j.stages)
    reports = attach(SPANS, jobs)
    for r in reports.values():
        assert 0.0 <= r.job_wait_s < 1.0
        assert 0.0 <= r.self_s <= r.span.end - r.span.start
    assert Stage(1).submitted is None


def test_self_time_gap_and_wait_from_children_and_jobs():
    reports = attach(SPANS, parse_event_log(FIXTURE))
    outer, inner = reports["outer#0"], reports["inner#1"]
    assert [j.job_id for j in outer.jobs] == [0, 1]
    assert [j.job_id for j in inner.jobs] == [1]
    # outer: 0.7 s minus its own job (0.2 s) and its child span (0.3 s)
    assert outer.self_s == pytest.approx(0.2)
    # outer: 0.7 s minus both jobs below it (0.2 s + 0.2 s)
    assert outer.job_gap_s == pytest.approx(0.3)
    assert outer.job_wait_s == pytest.approx(0.02 + 0.01)
    # inner: 0.3 s minus its own job (0.2 s)
    assert inner.self_s == pytest.approx(0.1)
    assert inner.job_gap_s == pytest.approx(0.1)
    assert outer.total("tasks") == 3
    assert [r.span.id for r in under(reports, ["outer#0"])] == ["inner#1"]
    assert under(reports, ["inner#1"]) == []


def test_covered_merges_overlaps_and_clips():
    assert covered((0.0, 10.0), []) == 0.0
    assert covered((0.0, 10.0), [(1.0, 3.0), (2.0, 4.0), (6.0, 7.0)]) == 4.0
    assert covered((0.0, 10.0), [(-5.0, 2.0), (9.0, 20.0)]) == 3.0
    assert covered((0.0, 10.0), [(11.0, 12.0)]) == 0.0


def test_tracer_nests_spans_per_thread():
    tracer = Tracer()

    def client(name: str) -> None:
        with tracer.span(name, "request"):
            with tracer.span("exec", "serving"):
                pass

    threads = [threading.Thread(target=client, args=(f"r{i}",)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=10)
        assert not t.is_alive()
    by_id = {s.id: s for s in tracer.spans}
    assert len(by_id) == 8
    for s in tracer.spans:
        if s.name == "exec":
            assert by_id[s.parent].layer == "request"
            assert by_id[s.parent].start <= s.start <= s.end <= by_id[s.parent].end
        else:
            assert s.parent is None

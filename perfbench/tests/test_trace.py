"""Tests of the benchmark's own arithmetic: event-log folding, span
self times, stage windows and the tail percentile."""

import os

import pytest

import tracing
from run import summary, tail

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog_small.jsonl")


@pytest.fixture(scope="module")
def log():
    return tracing.read_event_log(FIXTURE)


def _stage(log, sid, att=0):
    return next(s for s in log["stages"] if s["stage_id"] == sid and s["attempt"] == att)


def test_jobs_carry_group_times_and_stages(log):
    assert [(j["job_id"], j["group"], j["stage_ids"]) for j in log["jobs"]] == [
        (0, "plan", [0]),
        (1, "run_pipeline", [1, 2]),
    ]
    assert log["jobs"][0]["submitted"] == pytest.approx(1000.1)
    assert log["jobs"][1]["completed"] == pytest.approx(1002.05)
    assert all(j["result"] == "JobSucceeded" for j in log["jobs"])


def test_stage_rows_sum_task_metrics(log):
    s0 = _stage(log, 0)
    assert s0["job_id"] == 0
    assert s0["tasks"] == 2 and s0["failed_tasks"] == 0
    assert s0["run_ms"] == 400 and s0["cpu_ns"] == 200_000_000 and s0["gc_ms"] == 20
    assert s0["input_bytes"] == 4000 and s0["input_records"] == 100
    assert s0["shuffle_read_bytes"] == 20
    assert s0["python_bytes_sent"] == 123456
    assert s0["submitted"] == pytest.approx(1000.11) and s0["completed"] == pytest.approx(1000.6)


def test_scan_rows_are_keyed_by_plan_location(log):
    scans = _stage(log, 0)["scan_rows"]
    assert len(scans) == 2
    table = [v for loc, v in scans.items() if "/w/table/data" in loc]
    profiles = [v for loc, v in scans.items() if "/w/out/profiles" in loc]
    assert table == [100] and profiles == [40]


def test_scan_bytes_come_from_driver_metric_of_the_execution(log):
    assert [j["execution_id"] for j in log["jobs"]] == [0, None]
    (scan,) = log["scan_bytes"]
    assert scan["execution_id"] == 0 and scan["bytes"] == 5000
    assert "/w/table/data" in scan["location"]


def test_failed_task_and_stage_retry(log):
    first, retry = _stage(log, 1, 0), _stage(log, 1, 1)
    assert first["tasks"] == 2 and first["failed_tasks"] == 1
    assert retry["tasks"] == 1 and retry["disk_spill_bytes"] == 4096
    assert retry["memory_spill_bytes"] == 8192
    folded = tracing.fold_stages([s for s in log["stages"] if s["job_id"] == 1])
    assert folded["stages"] == 3 and folded["stage_retries"] == 1
    assert folded["failed_tasks"] == 1
    assert folded["shuffle_write_bytes"] == 512 + 1024
    assert folded["cpu_ns"] == 530_000_000


def test_torn_last_line_is_skipped(log):
    # the fixture ends mid-event, as an in-progress log can
    assert sum(s["tasks"] for s in log["stages"]) == 6


def test_self_time_subtracts_union_of_clipped_children():
    p = tracing.Span("p", 0.0, 10.0)
    p.add(tracing.Span("a", 1.0, 3.0))
    p.add(tracing.Span("b", 2.0, 5.0))  # overlaps a: union 1..5 = 4 s
    p.add(tracing.Span("c", 8.0, 12.0))  # clipped to 8..10 = 2 s
    assert p.self_time() == pytest.approx(4.0)
    rows = p.to_rows()
    assert [r["name"] for r in rows] == ["p", "a", "b", "c"]
    assert rows[1]["self_s"] == pytest.approx(2.0)


def test_idle_time_counts_gaps_between_jobs():
    assert tracing.idle_time(0.0, 10.0, [(1.0, 2.0), (1.5, 4.0), (9.0, 11.0)]) == pytest.approx(6.0)
    assert tracing.idle_time(0.0, 10.0, []) == pytest.approx(10.0)


def test_stage_windows_cover_run_pipeline_span():
    stage_seconds = {"A_profile": 2.0, "B2_drift": 1.0, "B_models": 3.0, "C_decide": 1.5, "D_metrics": 0.5}
    start = 100.0
    run = tracing.Span("run_pipeline", start, start + 7.0, kind="step")
    windows = tracing.stage_windows(start, stage_seconds)
    for w in windows:
        run.add(w)
    assert [(w.name, w.start, w.end) for w in windows] == [
        ("A_profile", 100.0, 102.0),
        ("B_models", 102.0, 105.0),
        ("C_decide", 105.0, 106.5),
        ("D_metrics", 106.5, 107.0),
    ]
    b2 = windows[1].children[0]
    assert (b2.name, b2.start, b2.end) == ("B2_drift", 104.0, 105.0)
    assert windows[1].self_time() == pytest.approx(2.0)
    gap = tracing.idle_time(run.start, run.end, [(w.start, w.end) for w in windows])
    assert gap == pytest.approx(0.0)
    assert run.self_time() == pytest.approx(0.0)


def test_uncovered_tail_of_span_is_reported():
    windows = tracing.stage_windows(0.0, {"A_profile": 1.0, "B_models": 1.0})
    gap = tracing.idle_time(0.0, 2.5, [(w.start, w.end) for w in windows])
    assert gap == pytest.approx(0.5)


def test_jobs_go_to_innermost_window():
    windows = tracing.stage_windows(0.0, {"A_profile": 2.0, "B2_drift": 1.0, "B_models": 3.0})
    jobs = [{"job_id": 1, "submitted": 0.5}, {"job_id": 2, "submitted": 3.0},
            {"job_id": 3, "submitted": 4.5}, {"job_id": 4, "submitted": 9.0}]
    got = tracing.attribute_jobs(jobs, windows)
    assert [j["job_id"] for j in got["A_profile"]] == [1]
    assert [j["job_id"] for j in got["B_models"]] == [2]
    assert [j["job_id"] for j in got["B2_drift"]] == [3]


def test_tail_keeps_ten_samples_above():
    vals = [float(i) for i in range(1, 25)]  # 24 samples
    v, p = tail(vals)
    assert v == 14.0 and p == pytest.approx(100 * 14 / 24)
    assert sum(1 for x in vals if x > v) == 10
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0)
    assert summary(vals) == {"median": 12.5, "tail": 14.0, "tail_percentile": p, "n": 24}

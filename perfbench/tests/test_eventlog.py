"""Job-to-op attribution on a small event log recorded from Spark 4.1
(``data/eventlog``: one job before any op, a shuffle aggregation in op-a,
and a 0.2 s driver-side pause followed by two collects in op-b)."""

import json
import os

import pytest

from eventlog import attribute, log_files, parse_events, read_jobs

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
LOG = os.path.join(DATA, "eventlog")
WINDOWS = [tuple(w) for w in json.load(open(os.path.join(DATA, "eventlog_windows.json")))["windows"]]


def test_rolling_log_files_are_found_in_order():
    files = log_files(LOG)
    assert files and all(os.path.basename(f).startswith("events_") for f in files)


def test_jobs_carry_task_counters():
    jobs = read_jobs(LOG)
    assert len(jobs) >= 4
    assert all(j.end_ms >= j.submit_ms for j in jobs)
    assert all(j.counters["tasks"] >= 1 for j in jobs)
    assert sum(j.counters["executor_run_s"] for j in jobs) >= 0


def test_jobs_are_attributed_by_submission_window():
    jobs = read_jobs(LOG)
    per_op = attribute(jobs, WINDOWS)
    first = min(jobs, key=lambda j: j.submit_ms)
    assert not any(lo <= first.submit_ms <= hi for _, lo, hi in WINDOWS)  # unattributed
    assert per_op["op-a"]["jobs"] >= 1
    assert per_op["op-a"]["shuffle_write_mb"] > 0  # the aggregation's exchange
    assert per_op["op-b"]["jobs"] == 2
    assert per_op["op-b"]["shuffle_write_mb"] == 0
    attributed = sum(acc["jobs"] for acc in per_op.values())
    assert attributed == sum(1 for j in jobs if any(lo <= j.submit_ms <= hi for _, lo, hi in WINDOWS))


def test_driver_gap_counts_time_without_a_running_job():
    per_op = attribute(read_jobs(LOG), WINDOWS)
    wall_b = (WINDOWS[1][2] - WINDOWS[1][1]) / 1e3
    assert 0.2 <= per_op["op-b"]["driver_gap_s"] <= wall_b
    assert per_op["op-a"]["driver_gap_s"] >= 0


def test_overlapping_jobs_are_not_double_counted():
    lines = [
        json.dumps({"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0]}),
        json.dumps({"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1200, "Stage IDs": [1]}),
        json.dumps({"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1600}),
        json.dumps({"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1500}),
    ]
    per_op = attribute(parse_events(lines), [("op", 1000, 2000)])
    assert per_op["op"]["jobs"] == 2
    assert per_op["op"]["driver_gap_s"] == pytest.approx(0.4)

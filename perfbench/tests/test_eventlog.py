"""The event-log parser on a small recorded log.

``data/small_eventlog.jsonl`` was recorded from a ``local[2]`` session
with an uncompressed event log, then cut down to the events and fields
the parser reads:

- job group ``g-write``: ``spark.range(0, 1000, 1, 3)`` written as
  parquet (one job, three tasks, three files);
- job group ``g-agg``: that parquet read back, grouped by ``id % 10``
  and collected (a shuffle; AQE splits it into three jobs);
- no job group: ``spark.range(10).count()``.
"""

import os

import pytest

from perfbench import eventlog

LOG = os.path.join(os.path.dirname(__file__), "data", "small_eventlog.jsonl")


@pytest.fixture()
def log():
    return eventlog.parse_file(LOG)


def test_write_group_counts_its_job_tasks_and_files(log):
    c = log.counters(["g-write"])
    assert (c["jobs"], c["stages"], c["tasks"]) == (1, 1, 3)
    assert c["files_written"] == 3
    assert c["rows_written"] == 1000
    assert c["rows_per_file"] == pytest.approx(1000 / 3)
    assert c["bytes_written"] > 0
    assert c["files_read"] == 0
    assert c["shuffle_write_bytes"] == 0


def test_aggregate_group_counts_shuffle_and_scan(log):
    c = log.counters(["g-agg"])
    assert c["jobs"] == 3
    assert c["files_read"] == 3
    assert c["rows_scanned"] == 1000
    assert c["shuffle_write_bytes"] == c["shuffle_read_bytes"] > 0
    assert c["files_written"] == 0


def test_time_counters_are_consistent(log):
    for g in ("g-write", "g-agg"):
        c = log.counters([g])
        assert 0 < c["exec_cpu_ms"] <= c["exec_run_ms"]
        assert c["exec_wait_ms"] == pytest.approx(c["exec_run_ms"] - c["exec_cpu_ms"])
        assert c["stage_skew"] >= 1.0


def test_groups_sum(log):
    both = log.counters(["g-write", "g-agg"])
    a, b = log.counters(["g-write"]), log.counters(["g-agg"])
    for k in ("jobs", "tasks", "files_read", "files_written", "rows_scanned"):
        assert both[k] == a[k] + b[k]


def test_unknown_group_reads_zero(log):
    c = log.counters(["nope"])
    assert c["jobs"] == c["tasks"] == c["files_read"] == 0
    assert c["stage_skew"] == 0.0


def test_regroup_attributes_foreign_groups_by_time(log):
    ungrouped = [j for j in log.jobs.values() if j.group is None]
    assert len(ungrouped) == 2
    log.regroup({"g-write", "g-agg"}, lambda t: "late")
    assert log.counters(["late"])["jobs"] == 2
    assert log.counters(["g-write"])["jobs"] == 1


def test_job_intervals_cover_every_job(log):
    iv = log.job_intervals()
    assert len(iv) == 6
    assert all(a <= b for a, b in iv)


def test_stage_skew():
    T = eventlog.Task
    tasks = [T(1, d, d, 0, 0, 0, 0, 0, 0) for d in (10, 10, 40)]
    tasks += [T(2, 5, 5, 0, 0, 0, 0, 0, 0)]
    assert eventlog.stage_skew(tasks) == 4.0
    assert eventlog.stage_skew([]) == 0.0

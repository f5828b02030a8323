"""Per-job-group counters from an uncompressed Spark event log.

The benchmark runs every traced call under its own job group (the span
id), so every job, stage and task in the log can be attributed to the
span that caused it. SQL metrics that the driver posts (files read and
written, bytes written) are attributed through their SQL execution,
whose start event carries the job group too. Work that Spark runs
under a group of its own (a streaming query tags its micro-batches with
its run id) is attributed with :meth:`EventLog.regroup`.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Callable, Iterable, Optional

from perfbench.stats import median

_SQL = "org.apache.spark.sql.execution.ui."

# SQL metric name -> counter it feeds
_DRIVER_METRICS = {
    "number of files read": "files_read",
    "number of written files": "files_written",
    "written output": "bytes_written",
    "number of output rows": "rows_written",
}


@dataclass
class Task:
    stage: int
    duration_ms: int
    run_ms: int
    cpu_ns: int
    gc_ms: int
    shuffle_write_bytes: int
    shuffle_read_bytes: int
    spill_bytes: int
    records_read: int


@dataclass
class Job:
    group: Optional[str]
    submit_ms: int
    end_ms: int


@dataclass
class SqlMetric:
    group: Optional[str]
    start_ms: int  # of its SQL execution
    name: str
    value: int


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stage_job: dict[int, int] = field(default_factory=dict)
    tasks: list[Task] = field(default_factory=list)
    sql: list[SqlMetric] = field(default_factory=list)

    def job_intervals(self) -> list[tuple[int, int]]:
        """(submit, completion) epoch ms of every job in the log."""
        return [(j.submit_ms, j.end_ms) for j in self.jobs.values()]

    def regroup(self, known: set, locate: Callable[[int], Optional[str]]) -> None:
        """Give work tagged with a group outside ``known`` the group
        ``locate`` returns for its start time (epoch ms)."""
        for j in self.jobs.values():
            if j.group not in known:
                j.group = locate(j.submit_ms)
        for m in self.sql:
            if m.group not in known:
                m.group = locate(m.start_ms)

    def counters(self, groups: Iterable[str]) -> dict[str, float]:
        """Summed counters over every job/stage/task of ``groups``."""
        gs = set(groups)
        jobs = {i for i, j in self.jobs.items() if j.group in gs}
        stages = {s for s, i in self.stage_job.items() if i in jobs}
        tasks = [t for t in self.tasks if t.stage in stages]
        ran = {t.stage for t in tasks}
        out: dict[str, float] = {
            "jobs": len(jobs),
            "stages": len(ran),
            "tasks": len(tasks),
            "exec_run_ms": sum(t.run_ms for t in tasks),
            "exec_cpu_ms": sum(t.cpu_ns for t in tasks) / 1e6,
            "gc_ms": sum(t.gc_ms for t in tasks),
            "shuffle_write_bytes": sum(t.shuffle_write_bytes for t in tasks),
            "shuffle_read_bytes": sum(t.shuffle_read_bytes for t in tasks),
            "spill_bytes": sum(t.spill_bytes for t in tasks),
            "rows_scanned": sum(t.records_read for t in tasks),
        }
        out["exec_wait_ms"] = max(0.0, out["exec_run_ms"] - out["exec_cpu_ms"])
        for name in _DRIVER_METRICS.values():
            out[name] = sum(m.value for m in self.sql if m.group in gs and m.name == name)
        out["rows_per_file"] = (
            out["rows_written"] / out["files_written"] if out["files_written"] else 0.0
        )
        out["stage_skew"] = stage_skew(tasks)
        return out


def stage_skew(tasks: list[Task]) -> float:
    """Max over median task duration in the longest-running stage
    (by summed task time); 1.0 when the stage is perfectly even, 0.0
    when there are no tasks."""
    by_stage: dict[int, list[int]] = {}
    for t in tasks:
        by_stage.setdefault(t.stage, []).append(t.duration_ms)
    if not by_stage:
        return 0.0
    longest = max(by_stage.values(), key=sum)
    med = median(longest)
    return float(max(longest)) / med if med > 0 else 1.0


def _walk_plan(node: dict, names: dict[int, str]) -> None:
    for m in node.get("metrics", []):
        names[m["accumulatorId"]] = m["name"]
    for c in node.get("children", []):
        _walk_plan(c, names)


def parse(lines: Iterable[str]) -> EventLog:
    """Parse event-log lines (one JSON event per line)."""
    log = EventLog()
    acc_names: dict[int, str] = {}
    executions: dict[int, tuple[Optional[str], int]] = {}
    pending: list[tuple[int, list]] = []  # driver accum updates
    submits: dict[int, tuple[Optional[str], int]] = {}
    for line in lines:
        if not line.strip():
            continue
        e = json.loads(line)
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            g = (e.get("Properties") or {}).get("spark.jobGroup.id")
            submits[e["Job ID"]] = (g, e["Submission Time"])
            for s in e.get("Stage IDs", []):
                # a stage belongs to the first job that lists it; later
                # jobs that list it skip it
                log.stage_job.setdefault(s, e["Job ID"])
        elif kind == "SparkListenerJobEnd":
            g, t0 = submits.pop(e["Job ID"], (None, e["Completion Time"]))
            log.jobs[e["Job ID"]] = Job(g, t0, e["Completion Time"])
        elif kind == "SparkListenerTaskEnd":
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            sw = m.get("Shuffle Write Metrics", {})
            sr = m.get("Shuffle Read Metrics", {})
            log.tasks.append(
                Task(
                    stage=e["Stage ID"],
                    duration_ms=info["Finish Time"] - info["Launch Time"],
                    run_ms=m.get("Executor Run Time", 0),
                    cpu_ns=m.get("Executor CPU Time", 0),
                    gc_ms=m.get("JVM GC Time", 0),
                    shuffle_write_bytes=sw.get("Shuffle Bytes Written", 0),
                    shuffle_read_bytes=sr.get("Remote Bytes Read", 0)
                    + sr.get("Local Bytes Read", 0),
                    spill_bytes=m.get("Disk Bytes Spilled", 0),
                    records_read=m.get("Input Metrics", {}).get("Records Read", 0),
                )
            )
        elif kind == _SQL + "SparkListenerSQLExecutionStart":
            executions[e["executionId"]] = (e.get("jobGroupId"), e["time"])
            _walk_plan(e["sparkPlanInfo"], acc_names)
        elif kind == _SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
            _walk_plan(e["sparkPlanInfo"], acc_names)
        elif kind == _SQL + "SparkListenerDriverAccumUpdates":
            pending.append((e["executionId"], e["accumUpdates"]))
    for ex, updates in pending:
        g, t0 = executions.get(ex, (None, 0))
        for acc, value in updates:
            name = _DRIVER_METRICS.get(acc_names.get(acc, ""))
            if name is not None:
                log.sql.append(SqlMetric(g, t0, name, int(value)))
    return log


def parse_file(path: str) -> EventLog:
    with open(path) as f:
        return parse(f)

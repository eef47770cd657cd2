"""Per-layer numbers from Spark's own event log.

The benchmark opens a span around every public call it makes and
runs the call under ``sparkContext.setJobGroup(span_id)``; sub-spans
(flow steps, funnel stages) are time windows inside a call. Spans are
kept in memory. Once the session has stopped, :class:`EventLog` reads
the uncompressed JSON-lines log, and :func:`span_stats` attributes
each job to its span by job group and to a sub-span by submission
time.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass

#: TaskEnd accumulables that are not in the fixed "Task Metrics" block.
_PY_RUN = "time to run Python workers"
_PY_SENT = "data sent to Python workers"


@dataclass
class Span:
    span_id: str
    name: str
    start: float                    # epoch seconds
    end: float

    @property
    def wall(self) -> float:
        return self.end - self.start


@dataclass
class Job:
    job_id: int
    group: str | None
    start: float                    # epoch seconds
    end: float = 0.0
    tasks: int = 0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    spill_bytes: int = 0
    input_bytes: int = 0
    shuffle_write_bytes: int = 0
    shuffle_write_records: int = 0
    python_run_s: float = 0.0
    python_bytes_sent: int = 0


@dataclass
class SqlExec:
    exec_id: int
    group: str | None
    start: float
    end: float
    is_count: bool


class EventLog:
    """Jobs (with their task metrics summed) and SQL executions."""

    def __init__(self, log_dir: str):
        files = sorted(glob.glob(os.path.join(log_dir, "*", "events_*")))
        if not files:
            raise FileNotFoundError(f"no event log under {log_dir}")
        self.jobs: dict[int, Job] = {}
        self.sql: dict[int, SqlExec] = {}
        stage_job: dict[int, int] = {}
        for path in files:
            with open(path) as f:
                for line in f:
                    self._event(json.loads(line), stage_job)

    def _event(self, e: dict, stage_job: dict[int, int]) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            job = Job(e["Job ID"], props.get("spark.jobGroup.id"),
                      e["Submission Time"] / 1e3)
            self.jobs[job.job_id] = job
            for sid in e.get("Stage IDs", []):
                stage_job.setdefault(sid, job.job_id)
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]].end = e["Completion Time"] / 1e3
        elif kind == "SparkListenerTaskEnd":
            job = self.jobs.get(stage_job.get(e["Stage ID"], -1))
            tm = e.get("Task Metrics")
            if job is None or tm is None:
                return
            job.tasks += 1
            job.cpu_s += tm["Executor CPU Time"] / 1e9
            job.gc_s += tm["JVM GC Time"] / 1e3
            job.spill_bytes += (tm["Memory Bytes Spilled"]
                                + tm["Disk Bytes Spilled"])
            job.input_bytes += tm["Input Metrics"]["Bytes Read"]
            sw = tm["Shuffle Write Metrics"]
            job.shuffle_write_bytes += sw["Shuffle Bytes Written"]
            job.shuffle_write_records += sw["Shuffle Records Written"]
            for acc in e["Task Info"].get("Accumulables", []):
                if acc.get("Name") == _PY_RUN:
                    job.python_run_s += int(acc["Update"]) / 1e3
                elif acc.get("Name") == _PY_SENT:
                    job.python_bytes_sent += int(acc["Update"])
        elif kind.endswith("SQLExecutionStart"):
            self.sql[e["executionId"]] = SqlExec(
                e["executionId"], e.get("jobGroupId"), e["time"] / 1e3,
                0.0, e.get("details", "").startswith(
                    "org.apache.spark.sql.classic.Dataset.count("))
        elif kind.endswith("SQLExecutionEnd"):
            if e["executionId"] in self.sql:
                self.sql[e["executionId"]].end = e["time"] / 1e3

    def jobs_of(self, group: str, start: float | None = None,
                end: float | None = None) -> list[Job]:
        """Jobs of one job group, optionally only those submitted in
        [start, end)."""
        out = [j for j in self.jobs.values() if j.group == group]
        if start is not None:
            out = [j for j in out if start <= j.start < end]
        return sorted(out, key=lambda j: j.start)

    def counts_of(self, group: str) -> list[SqlExec]:
        """``Dataset.count`` executions of one job group, in order."""
        return sorted((s for s in self.sql.values()
                       if s.group == group and s.is_count),
                      key=lambda s: s.start)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def span_stats(jobs: list[Job], start: float, end: float) -> dict:
    """Engine-level numbers of one span: job and task counts, driver
    gap (span wall minus the union of its job intervals, clipped to
    the span), executor CPU, GC, spill, shuffle and input volume and
    Python worker time."""
    covered = union_length([(max(j.start, start), min(j.end, end))
                            for j in jobs if j.end > j.start])
    return {
        "jobs": len(jobs),
        "tasks": sum(j.tasks for j in jobs),
        "driver_gap_s": max(0.0, (end - start) - covered),
        "executor_cpu_s": sum(j.cpu_s for j in jobs),
        "gc_s": sum(j.gc_s for j in jobs),
        "spill_bytes": sum(j.spill_bytes for j in jobs),
        "input_bytes": sum(j.input_bytes for j in jobs),
        "shuffle_write_bytes": sum(j.shuffle_write_bytes for j in jobs),
        "shuffle_records": sum(j.shuffle_write_records for j in jobs),
        "python_run_s": sum(j.python_run_s for j in jobs),
        "python_bytes_sent": sum(j.python_bytes_sent for j in jobs),
    }


def stage_windows(counts: list[SqlExec], start: float,
                  stages: list[str]) -> list[tuple[str, float, float]] | None:
    """Funnel stage windows of one ``curate_documents`` call: stage i
    runs from the end of the (i-1)-th boundary count (or the call
    start) to the end of its own count. None when the number of
    count executions does not match the funnel."""
    if len(counts) != len(stages):
        return None
    out, lo = [], start
    for name, c in zip(stages, counts):
        out.append((name, lo, c.end))
        lo = c.end
    return out

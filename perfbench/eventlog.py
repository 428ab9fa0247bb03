"""Parser for Spark's JSON-lines event log.

It groups jobs by their job group (``spark.jobGroup.id``; streaming
micro-batch jobs carry the query's run id there) and sums task metrics
per stage and per group. It makes no assumption on event order beyond
a job's start preceding its stages' events: Spark 4.1 writes a stage's
TaskEnd events before its StageCompleted event, so a stage row is
created by whichever event comes first and each later event fills in
only the fields it carries.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

TASK_FIELDS = ("tasks", "run_ms", "cpu_ns", "gc_ms", "input_records",
               "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")


@dataclass
class Stage:
    stage_id: int
    attempt: int
    name: str = ""
    num_tasks: int = 0
    submitted_ms: int | None = None
    completed_ms: int | None = None
    totals: dict = field(default_factory=lambda: dict.fromkeys(TASK_FIELDS, 0))


@dataclass
class Job:
    job_id: int
    group: str | None
    stage_ids: list


@dataclass
class EventLog:
    jobs: dict = field(default_factory=dict)  # job id -> Job
    stages: dict = field(default_factory=dict)  # (stage id, attempt) -> Stage

    def stage(self, sid: int, attempt: int) -> Stage:
        key = (sid, attempt)
        if key not in self.stages:
            self.stages[key] = Stage(sid, attempt)
        return self.stages[key]

    def group_summary(self, groups) -> dict:
        """Totals over every job whose group is in ``groups``: job and
        stage counts, summed task metrics, and the union of the stage
        intervals (``stage_busy_ms``). Stages that never ran (skipped
        because their shuffle output was reused) are not counted."""
        groups = set(groups)
        jobs = [j for j in self.jobs.values() if j.group in groups]
        sids = {sid for j in jobs for sid in j.stage_ids}
        ran = [s for s in self.stages.values() if s.stage_id in sids and s.completed_ms is not None]
        out = dict.fromkeys(TASK_FIELDS, 0)
        for s in ran:
            for k in TASK_FIELDS:
                out[k] += s.totals[k]
        out["jobs"] = len(jobs)
        out["stages"] = len(ran)
        out["stage_busy_ms"] = _union_ms([(s.submitted_ms, s.completed_ms) for s in ran
                                          if s.submitted_ms is not None])
        return out


def _union_ms(intervals: list) -> int:
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def _task_totals(metrics: dict) -> dict:
    sr = metrics.get("Shuffle Read Metrics", {})
    sw = metrics.get("Shuffle Write Metrics", {})
    inp = metrics.get("Input Metrics", {})
    return {
        "tasks": 1,
        "run_ms": metrics.get("Executor Run Time", 0),
        "cpu_ns": metrics.get("Executor CPU Time", 0),
        "gc_ms": metrics.get("JVM GC Time", 0),
        "input_records": inp.get("Records Read", 0),
        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "spill_bytes": metrics.get("Disk Bytes Spilled", 0),
    }


def parse_lines(lines) -> EventLog:
    log = EventLog()
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            log.jobs[ev["Job ID"]] = Job(ev["Job ID"], props.get("spark.jobGroup.id"),
                                         list(ev.get("Stage IDs", [])))
        elif kind in ("SparkListenerStageSubmitted", "SparkListenerStageCompleted"):
            info = ev["Stage Info"]
            st = log.stage(info["Stage ID"], info.get("Stage Attempt ID", 0))
            st.name = info.get("Stage Name", st.name)
            st.num_tasks = info.get("Number of Tasks", st.num_tasks)
            st.submitted_ms = info.get("Submission Time", st.submitted_ms)
            if kind == "SparkListenerStageCompleted":
                st.completed_ms = info.get("Completion Time")
        elif kind == "SparkListenerTaskEnd":
            st = log.stage(ev["Stage ID"], ev.get("Stage Attempt ID", 0))
            for k, v in _task_totals(ev.get("Task Metrics") or {}).items():
                st.totals[k] += v
    return log


def parse_file(path: str) -> EventLog:
    with open(path) as f:
        return parse_lines(f)

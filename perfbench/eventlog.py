"""Parser for Spark's uncompressed JSON-lines event log.

Reads ``SparkListenerJobStart``/``JobEnd``, ``TaskEnd``,
``StageCompleted`` and the SQL execution events, and rolls them up per
job group. The benchmark sets the job group around every call it wraps
(``spans.Tracer``) to a ``/``-separated span path such as
``item3/matrix/plans.pivot_matrix``, so each job, task and scanned file
is attributed to the innermost span that caused it.
"""

from __future__ import annotations

import json
from collections import defaultdict
from collections.abc import Callable
from dataclasses import dataclass, field

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
SQL_DRIVER_ACCUM = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"

TASK_FIELDS = ("tasks", "failed_tasks", "run_ms", "cpu_ms", "gc_ms", "deser_ms",
               "fetch_wait_ms", "shuffle_read_bytes", "shuffle_write_bytes",
               "spill_bytes", "input_bytes", "input_records", "output_bytes")


@dataclass
class Job:
    job_id: int
    group: str
    submit_ms: int
    end_ms: int | None = None
    succeeded: bool = False
    stage_ids: list[int] = field(default_factory=list)
    totals: dict[str, float] = field(default_factory=lambda: dict.fromkeys(TASK_FIELDS, 0))


@dataclass
class EventLog:
    jobs: dict[int, Job]
    stages_completed: dict[str, int]      # group -> completed stage attempts
    stages_failed: dict[str, int]
    scan_files: dict[str, int]            # group -> files read by file scans
    scan_bytes: dict[str, int]            # group -> bytes of those files


def _task_totals(ev: dict) -> dict[str, float]:
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics", {})
    sw = m.get("Shuffle Write Metrics", {})
    inp = m.get("Input Metrics", {})
    out = m.get("Output Metrics", {})
    return {
        "tasks": 1,
        "failed_tasks": int(ev["Task End Reason"]["Reason"] != "Success"),
        "run_ms": m.get("Executor Run Time", 0),
        "cpu_ms": m.get("Executor CPU Time", 0) / 1e6,
        "gc_ms": m.get("JVM GC Time", 0),
        "deser_ms": m.get("Executor Deserialize Time", 0),
        "fetch_wait_ms": sr.get("Fetch Wait Time", 0),
        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        "input_bytes": inp.get("Bytes Read", 0),
        "input_records": inp.get("Records Read", 0),
        "output_bytes": out.get("Bytes Written", 0),
    }


def _scan_accums(plan: dict, into: dict[int, str]) -> None:
    """accumulator id -> metric name, for the metrics of file-scan nodes."""
    if plan["nodeName"].startswith("Scan "):
        for m in plan["metrics"]:
            into[m["accumulatorId"]] = m["name"]
    for child in plan["children"]:
        _scan_accums(child, into)


def parse(lines) -> EventLog:
    """Parse an iterable of event-log lines (an open file works)."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    stages_ok: dict[str, int] = defaultdict(int)
    stages_bad: dict[str, int] = defaultdict(int)
    exec_group: dict[int, str] = {}
    scan_accum: dict[int, str] = {}
    scan_files: dict[str, int] = defaultdict(int)
    scan_bytes: dict[str, int] = defaultdict(int)
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            job = Job(ev["Job ID"], props.get("spark.jobGroup.id") or "",
                      ev["Submission Time"],
                      stage_ids=[s["Stage ID"] for s in ev["Stage Infos"]])
            jobs[job.job_id] = job
            for sid in job.stage_ids:
                stage_job[sid] = job.job_id
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(ev["Job ID"])
            if job is not None:
                job.end_ms = ev["Completion Time"]
                job.succeeded = ev["Job Result"]["Result"] == "JobSucceeded"
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(ev["Stage ID"], -1))
            if job is not None:
                for k, v in _task_totals(ev).items():
                    job.totals[k] += v
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            job = jobs.get(stage_job.get(info["Stage ID"], -1))
            group = job.group if job else ""
            if info.get("Failure Reason"):
                stages_bad[group] += 1
            else:
                stages_ok[group] += 1
        elif kind == SQL_START:
            exec_group[ev["executionId"]] = ev.get("jobGroupId") or ""
            _scan_accums(ev["sparkPlanInfo"], scan_accum)
        elif kind == SQL_AQE:
            _scan_accums(ev["sparkPlanInfo"], scan_accum)
        elif kind == SQL_DRIVER_ACCUM:
            group = exec_group.get(ev["executionId"], "")
            for acc_id, value in ev["accumUpdates"]:
                name = scan_accum.get(acc_id)
                if name == "number of files read":
                    scan_files[group] += int(value)
                elif name == "size of files read":
                    scan_bytes[group] += int(value)
    return EventLog(jobs, dict(stages_ok), dict(stages_bad), dict(scan_files),
                    dict(scan_bytes))


def union_ms(intervals: list[tuple[int, int]]) -> int:
    """Total length covered by possibly overlapping [start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def under(prefix: str) -> Callable[[str], bool]:
    """Matches ``prefix`` itself and every span path below it."""
    return lambda g: g == prefix or g.startswith(prefix + "/")


def rollup(log: EventLog, match: Callable[[str], bool]) -> dict[str, float]:
    """Executor and source totals over the jobs whose group ``match``es."""
    jobs = [j for j in log.jobs.values() if match(j.group)]
    out = dict.fromkeys(TASK_FIELDS, 0.0)
    for j in jobs:
        for k, v in j.totals.items():
            out[k] += v
    inside = [g for g in set(log.stages_completed) | set(log.scan_files)
              | set(log.scan_bytes) | set(log.stages_failed) if match(g)]
    out["jobs"] = len(jobs)
    out["failed_jobs"] = sum(1 for j in jobs if not j.succeeded)
    out["stages"] = sum(log.stages_completed.get(g, 0) for g in inside)
    out["failed_stages"] = sum(log.stages_failed.get(g, 0) for g in inside)
    out["scan_files"] = sum(log.scan_files.get(g, 0) for g in inside)
    out["scan_bytes"] = sum(log.scan_bytes.get(g, 0) for g in inside)
    out["job_union_ms"] = union_ms([(j.submit_ms, j.end_ms) for j in jobs
                                    if j.end_ms is not None])
    return out

"""Event-log parser and per-layer rollup, on a hand-written event log."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import eventlog  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402

SQL = "org.apache.spark.sql.execution.ui."


def _task(stage: int, run_ms: int, ok: bool = True, **m) -> dict:
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task End Reason": {"Reason": "Success" if ok else "ExceptionFailure"},
            "Task Metrics": {
                "Executor Run Time": run_ms, "Executor CPU Time": run_ms * 500_000,
                "JVM GC Time": 1, "Executor Deserialize Time": 2,
                "Memory Bytes Spilled": m.get("spill", 0), "Disk Bytes Spilled": 0,
                "Shuffle Read Metrics": {"Fetch Wait Time": 3, "Remote Bytes Read": 0,
                                         "Local Bytes Read": m.get("shuffle_read", 0)},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": m.get("shuffle_write", 0)},
                "Input Metrics": {"Bytes Read": m.get("input", 0),
                                  "Records Read": m.get("records", 0)},
                "Output Metrics": {"Bytes Written": m.get("output", 0)}}}


def _job(job_id: int, group: str, stages: list[int], t0: int) -> dict:
    return {"Event": "SparkListenerJobStart", "Job ID": job_id, "Submission Time": t0,
            "Stage Infos": [{"Stage ID": s} for s in stages],
            "Properties": {"spark.jobGroup.id": group}}


def _end(job_id: int, t1: int, ok: bool = True) -> dict:
    return {"Event": "SparkListenerJobEnd", "Job ID": job_id, "Completion Time": t1,
            "Job Result": {"Result": "JobSucceeded" if ok else "JobFailed"}}


def _stage_done(stage: int, failed: bool = False) -> dict:
    info = {"Stage ID": stage}
    if failed:
        info["Failure Reason"] = "boom"
    return {"Event": "SparkListenerStageCompleted", "Stage Info": info}


def _log() -> list[str]:
    scan = {"nodeName": "Scan csv ", "children": [], "metrics": [
        {"name": "number of files read", "accumulatorId": 11, "metricType": "sum"},
        {"name": "size of files read", "accumulatorId": 12, "metricType": "size"}]}
    plan = {"nodeName": "HashAggregate", "metrics": [], "children": [scan]}
    events = [
        {"Event": "SparkListenerLogStart"},
        _job(0, "item1/matrix/plans.pivot_matrix", [0], 1_000),
        _task(0, 40, input=500, records=10),
        _stage_done(0),
        _end(0, 1_400),
        {"Event": SQL + "SparkListenerSQLExecutionStart", "executionId": 7,
         "jobGroupId": "item1/matrix/sinks.write_tsv", "sparkPlanInfo": plan},
        _job(1, "item1/matrix/sinks.write_tsv", [1, 2], 1_200),
        _task(1, 100, shuffle_write=64, input=800, records=20),
        _task(2, 60, shuffle_read=64, output=256, spill=8),
        _task(2, 5, ok=False),
        _stage_done(1),
        _stage_done(2, failed=True),
        {"Event": SQL + "SparkListenerDriverAccumUpdates", "executionId": 7,
         "accumUpdates": [[11, 3], [12, 600], [99, 5]]},
        _end(1, 2_000, ok=False),
        _job(2, "item2", [3], 5_000),
        _task(3, 7),
        _end(2, 5_100),
        "",
    ]
    return [json.dumps(e) if e else e for e in events]


def test_parse_attributes_jobs_tasks_and_scans_to_groups():
    log = eventlog.parse(_log())
    assert sorted(log.jobs) == [0, 1, 2]
    assert log.jobs[1].group == "item1/matrix/sinks.write_tsv"
    assert log.jobs[1].totals["run_ms"] == 165
    assert log.jobs[1].totals["failed_tasks"] == 1
    assert not log.jobs[1].succeeded and log.jobs[0].succeeded
    assert log.scan_files == {"item1/matrix/sinks.write_tsv": 3}
    assert log.scan_bytes == {"item1/matrix/sinks.write_tsv": 600}

    r = eventlog.rollup(log, eventlog.under("item1"))
    assert r["jobs"] == 2 and r["failed_jobs"] == 1
    assert (r["stages"], r["failed_stages"]) == (2, 1)
    assert r["tasks"] == 4 and r["failed_tasks"] == 1
    assert r["run_ms"] == 205 and r["cpu_ms"] == 102.5
    assert (r["shuffle_read_bytes"], r["shuffle_write_bytes"]) == (64, 64)
    assert (r["input_bytes"], r["input_records"], r["output_bytes"]) == (1300, 30, 256)
    assert r["spill_bytes"] == 8
    assert (r["scan_files"], r["scan_bytes"]) == (3, 600)
    # jobs 0 and 1 overlap: [1000, 1400) ∪ [1200, 2000) covers 1000 ms
    assert r["job_union_ms"] == 1000
    assert eventlog.rollup(log, eventlog.under("item2"))["run_ms"] == 7
    assert eventlog.rollup(log, eventlog.under("item"))["jobs"] == 0


def test_union_ms():
    assert eventlog.union_ms([]) == 0
    assert eventlog.union_ms([(0, 10), (20, 25), (5, 12), (25, 30)]) == 22


class _Context:
    """Records the job group the tracer sets, like SparkContext would."""

    def __init__(self) -> None:
        self.groups: list[str | None] = []

    def setLocalProperty(self, key: str, value: str | None) -> None:
        assert key == "spark.jobGroup.id"
        self.groups.append(value)


def test_spans_set_nested_job_groups_and_feed_item_layers():
    sc = _Context()
    tracer = spans.Tracer(sc)
    with tracer.span("item1"):
        with tracer.span("matrix"):
            with tracer.span("plans.pivot_matrix"):
                pass
            with tracer.span("sinks.write_tsv"):
                pass
    assert sc.groups == ["item1", "item1/matrix", "item1/matrix/plans.pivot_matrix",
                         "item1/matrix", "item1/matrix/sinks.write_tsv",
                         "item1/matrix", "item1", None]
    m = spans.item_layers(eventlog.parse(_log()), tracer, "item1", wall_s=2.0,
                          in_bytes=300)
    assert set(m) <= set(run.declared_units("per_layer"))
    assert m["executor.jobs"] == 2 and m["executor.run_ms"] == 205
    assert m["executor.failed_tasks"] == 1 and m["executor.failed_stages"] == 1
    assert m["executor.slot_util"] == 205 / (2000 * 4)
    assert m["driver.only_s"] == 1.0
    assert m["plans.build_jobs"] == 1 and m["plans.build_exec_ms"] == 40
    assert m["sources.read_amplification"] == 2.0
    assert m["sources.cache_read_bytes"] == 700
    assert m["orchestrator.stage.matrix.jobs"] == 2
    assert m["orchestrator.stage.matrix.shuffle_bytes"] == 128
    assert m["corpus.stage.curate.jobs"] == 0

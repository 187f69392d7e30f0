"""Spans around calls into the program's layers, and the per-layer table.

The traced pass times calls into each layer's public functions from the
benchmark's side: it replaces module attributes with wrappers for the
length of one traced item and restores them afterwards. Around every
wrapped call it sets Spark's job group to the span path (``item3/matrix/
plans.pivot_matrix``), so the event log attributes each job to the span
that caused it. The program itself is not modified.

The sink spans cover ``write_tsv`` and ``DataFrameWriter.parquet``. The
tracks stage writes its JSON documents and ``session.json`` with plain
``open()`` on the driver, which no span reaches: that time is part of
``orchestrator.stage.tracks.driver_only_s`` (and ``driver.only_s``), not
of ``sinks.s``; those files are counted in ``sinks.files`` but their bytes
are not in ``sinks.output_bytes``, which counts what Spark tasks wrote.
"""

from __future__ import annotations

import contextlib
import statistics
import time

import eventlog

# layer functions whose calls build frames (eager probes, collects and
# checkpoints run inside them); the frames they return are planned
PIPELINE_PLANS = ("unique_acclist", "starqc_summary", "qc_stats", "pass_filter",
                  "validate_feature_alignment", "pivot_matrix", "compute_sex",
                  "conflict_report")
CORPUS_PLANS = {"rgd_rnaseq_workflows_spark.plans.corpus": ("curate_corpus_graph",
                                                          "curation_stats"),
                "rgd_rnaseq_workflows_spark.plans.neardup": ("neardup_analysis",),
                "rgd_rnaseq_workflows_spark.operators.contamination": ("decontaminate",)}
PIPELINE_STAGES = ("starqc", "pass", "matrix", "sex", "tracks")
CORPUS_STAGES = {"curation": "curate", "neardup": "reports",
                 "curated write": "write", "stats": "stats"}
EXECUTOR = ("jobs", "stages", "tasks", "run_ms", "cpu_ms", "gc_ms", "deser_ms",
            "fetch_wait_ms", "shuffle_read_bytes", "shuffle_write_bytes",
            "spill_bytes", "failed_tasks", "failed_stages")
STAGE_METRICS = ("jobs", "run_ms", "shuffle_bytes", "driver_only_s")
SLOTS = 4


class Tracer:
    """Span recorder that tags Spark jobs with the span path."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.path: list[str] = []
        self.spans: list[tuple[str, float]] = []          # (path, seconds)
        self.plans: list[tuple[str, float, int]] = []     # (path, s, nodes)
        self._undo: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        self.path.append(name)
        group = "/".join(self.path)
        self.sc.setLocalProperty("spark.jobGroup.id", group)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append((group, time.perf_counter() - t0))
            self.path.pop()
            self.sc.setLocalProperty("spark.jobGroup.id",
                                     "/".join(self.path) or None)

    def _patch(self, owner, attr: str, value) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def wrap(self, owner, attr: str, name: str, plan: bool = False) -> None:
        """Replace ``owner.attr`` with a call that runs inside span ``name``;
        with ``plan``, also time Catalyst planning of the frames returned."""
        orig = getattr(owner, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                out = orig(*args, **kwargs)
            if plan:
                self._plan_frames(out)
            return out
        self._patch(owner, attr, traced)

    def _plan_frames(self, out) -> None:
        from pyspark.sql import DataFrame
        vals = out.values() if isinstance(out, dict) else (
            out if isinstance(out, tuple) else (out,))
        for df in vals:
            if isinstance(df, DataFrame):
                with self.span("catalyst"):
                    t0 = time.perf_counter()
                    plan = df._jdf.queryExecution().executedPlan()
                    dt = time.perf_counter() - t0
                    nodes = len(plan.treeString().strip().splitlines())
                self.plans.append(("/".join(self.path), dt, nodes))

    def install(self, workload: str) -> None:
        """Wrap the layers one workload calls into, until ``restore``."""
        import importlib

        from pyspark.sql.readwriter import DataFrameWriter
        if workload == "pipeline_project":
            from rgd_rnaseq_workflows_spark import run_pipeline as mod
            for fn in PIPELINE_PLANS:
                self.wrap(mod, fn, f"plans.{fn}", plan=True)
            stage_cls = mod.Stage

            def stage(name, fn, critical=True):
                def run():
                    with self.span(name):
                        return fn()
                return stage_cls(name, run, critical)
            self._patch(mod, "Stage", stage)
        else:
            from rgd_rnaseq_workflows_spark import run_corpus as mod
            for module, fns in CORPUS_PLANS.items():
                for fn in fns:
                    self.wrap(importlib.import_module(module), fn,
                              f"plans.{fn}", plan=True)
            labelled = mod._stage

            @contextlib.contextmanager
            def stage(label: str):
                name = next((v for k, v in CORPUS_STAGES.items()
                             if label.startswith(k)), label.split()[0])
                with self.span(name), labelled(label):
                    yield
            self._patch(mod, "_stage", stage)
        self.wrap(mod, "write_tsv", "sinks.write_tsv")
        self.wrap(DataFrameWriter, "parquet", "sinks.parquet")

    def restore(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)


def _outermost(recorded: list[tuple[str, float]], item: str, prefix: str) -> float:
    """Seconds in spans of ``item`` named ``prefix*`` that are not nested in
    another such span."""
    total = 0.0
    for path, dt in recorded:
        parts = path.split("/")
        if parts[0] != item:
            continue
        hits = [p for p in parts if p.startswith(prefix)]
        if hits and parts[-1] == hits[0]:
            total += dt
    return total


def item_layers(log: eventlog.EventLog, tracer: Tracer, item: str, wall_s: float,
                in_bytes: int) -> dict[str, float]:
    """Per-layer metrics of one traced item (span path root ``item``)."""
    r = eventlog.rollup(log, eventlog.under(item))
    m = {f"executor.{k}": r[k] for k in EXECUTOR}
    m["executor.slot_util"] = r["run_ms"] / (wall_s * 1000 * SLOTS)
    m["driver.only_s"] = wall_s - r["job_union_ms"] / 1000
    m["sources.files"] = r["scan_files"]
    m["sources.file_bytes"] = r["scan_bytes"]
    m["sources.input_bytes"] = r["input_bytes"]
    m["sources.cache_read_bytes"] = max(0.0, r["input_bytes"] - r["scan_bytes"])
    m["sources.input_records"] = r["input_records"]
    m["sources.read_amplification"] = r["scan_bytes"] / in_bytes
    plans = eventlog.rollup(log, lambda g: g.startswith(item + "/") and any(
        p.startswith("plans.") for p in g.split("/")))
    m["plans.build_s"] = _outermost(tracer.spans, item, "plans.")
    m["plans.build_jobs"] = plans["jobs"]
    m["plans.build_exec_ms"] = plans["run_ms"]
    mine = [(dt, n) for path, dt, n in tracer.plans if path.split("/")[0] == item]
    m["catalyst.plan_s"] = sum(dt for dt, _ in mine)
    m["catalyst.plan_nodes"] = sum(n for _, n in mine)
    m["sinks.s"] = _outermost(tracer.spans, item, "sinks.")
    m["sinks.output_bytes"] = r["output_bytes"]
    stage_names = [("orchestrator.stage", s) for s in PIPELINE_STAGES]
    stage_names += [("corpus.stage", s) for s in CORPUS_STAGES.values()]
    for key, s in stage_names:
        dur = sum(dt for path, dt in tracer.spans if path == f"{item}/{s}")
        sr = eventlog.rollup(log, eventlog.under(f"{item}/{s}"))
        m[f"{key}_s.{s}"] = dur
        m[f"{key}.{s}.jobs"] = sr["jobs"]
        m[f"{key}.{s}.run_ms"] = sr["run_ms"]
        m[f"{key}.{s}.shuffle_bytes"] = sr["shuffle_read_bytes"] + sr["shuffle_write_bytes"]
        m[f"{key}.{s}.driver_only_s"] = max(0.0, dur - sr["job_union_ms"] / 1000)
    return m


def median_table(rows: list[dict[str, float]]) -> dict[str, float]:
    return {k: statistics.median(r[k] for r in rows) for k in rows[0]}


def parse_dir(directory: str) -> eventlog.EventLog:
    import glob
    [path] = glob.glob(f"{directory}/*")
    with open(path) as f:
        return eventlog.parse(f)

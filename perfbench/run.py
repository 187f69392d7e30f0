"""Benchmark driver: one workload, one seed, one process.

  python3 perfbench/run.py --workload pipeline_project --seed 1 \
      --seconds 5 --trace 0

Run from the root of a checkout. It generates the workload's inputs from
the seed, sets up a ``local[4]`` session cold (JVM launch included), runs
the workload's item once cold and then in a closed loop with one client
for ``--seconds``, checks every item's outputs outside the timed region,
and prints one JSON line as the last line of stdout. ``--trace 0``
reports the end-to-end metrics and sets the session up cold twice more
for ``setup_s``; ``--trace 1`` runs with the event log on, alternates
items with and without the layer spans of ``spans.py``, and reports the
per-layer metrics. The metric names and units are those of
``BENCHMARK.json``. Everything it writes lives under ``.bench_work/`` in
the checkout; the program's stdout and stderr go to ``.bench_work/run.log``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen_corpus  # noqa: E402
import gen_project  # noqa: E402

CPUS = 4
DRIVER_MEM = "2g"
N_SETUPS = 3            # cold session set-ups per untraced run; setup_s is their median
SIZES = {"pipeline_project": {"n_gsm": 32, "n_genes": 5000},
         "corpus_curation": {"n_base": 200, "rep": 10}}


def declared_units(kind: str) -> dict[str, str]:
    """Name -> unit of the ``end_to_end`` or ``per_layer`` metrics in
    BENCHMARK.json, the one list of the metrics a run reports."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


class Pipeline:
    """``run_pipeline`` on a generated reference-shaped project."""

    def __init__(self, seed: int) -> None:
        root = os.path.join(WORK, "inputs")
        self.expected = gen_project.generate(root, seed, **SIZES["pipeline_project"])
        self.root = root
        self.in_bytes = self.expected["input_bytes"]
        self.in_rows = sum(self.expected["input_rows"].values())

    def run(self, out: str) -> int:
        from rgd_rnaseq_workflows_spark import run_pipeline
        return run_pipeline.main(gen_project.argv(self.root, out))

    def check(self, out: str, first: bool) -> list[str]:
        return checks.pipeline(out, self.expected)


class Corpus:
    """``run_corpus`` with near-dup reports and decontamination on a seeded
    10x documents replica."""

    def __init__(self, seed: int) -> None:
        self.info = gen_corpus.generate(os.path.join(WORK, "inputs"), seed,
                                        **SIZES["corpus_curation"])
        self.in_bytes = self.info["input_bytes"]
        self.in_rows = self.info["n_docs"]
        with open(os.path.join(HERE, "digests.json")) as f:
            self.known = json.load(f)["corpus_curation"].get(str(seed))
        self.digest: str | None = None

    def run(self, out: str) -> int:
        from rgd_rnaseq_workflows_spark import run_corpus
        return run_corpus.main(gen_corpus.argv(self.info, out))

    def check(self, out: str, first: bool) -> list[str]:
        """Full invariants on the first item; later items must reproduce
        its digest; the digest must match the one recorded for the seed."""
        try:
            digest = checks.corpus_digest(out)
            bad = checks.corpus(out, self.info) if first else []
        except (OSError, ValueError) as e:
            return [f"unreadable output: {e!r}"]
        if self.digest is None:
            self.digest = digest
        if digest != self.digest:
            bad.append("output differs from the first item's")
        if self.known and digest != self.known:
            bad.append("output differs from the digest recorded for this seed")
        return bad


WORKLOADS = {"pipeline_project": Pipeline, "corpus_curation": Corpus}


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(trace: bool) -> None:
    """Private, freshly wiped work area; everything Spark, the JVM and the
    Python workers write goes under it. With ``trace`` the uncompressed
    event log is switched on from outside the program, as spark-submit
    configuration, so every session of the run writes one to ``events/``."""
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("local", "tmp", "events", "out"):
        os.makedirs(os.path.join(WORK, d))
    tmp = os.path.join(WORK, "tmp")
    # -XX:-UsePerfData: no JVM writes /tmp/hsperfdata_<user>
    jvm_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    confs = ""
    if trace:
        confs = "".join(f" --conf {k}={v}" for k, v in {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(WORK, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false"}.items())
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(CPUS),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "local"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LAUNCHER_OPTS": jvm_opts,
        "PYSPARK_SUBMIT_ARGS": f'--driver-java-options "{jvm_opts}"{confs} pyspark-shell',
    })
    os.environ.pop("SPARK_GRAFT_NO_MASTER", None)
    os.environ.pop("SPARK_GRAFT_CHECKPOINT_DIR", None)


def redirect_output():
    """Send fd 1 and 2 (this process, the JVM, the Python workers) to the
    run log; return files for the real stdout and stderr."""
    out, err = os.fdopen(os.dup(1), "w"), os.fdopen(os.dup(2), "w")
    sys.stdout.flush()
    sys.stderr.flush()
    log = os.open(os.path.join(WORK, "run.log"), os.O_WRONLY | os.O_CREAT | os.O_APPEND)
    os.dup2(log, 1)
    os.dup2(log, 2)
    os.close(log)
    return out, err


def _warm(spark) -> None:
    """First job and first codegen. Neither workload starts Python workers,
    so the set-up does not start them either."""
    from pyspark.sql import functions as F
    spark.range(10_000).groupBy((F.col("id") % 7).alias("k")).agg(F.sum("id")).collect()


def setup_session():
    """One cold set-up, as a fresh process pays it: launch the JVM and
    ``get_spark``, build and ship the package zip, warm. Returns (spark,
    timings)."""
    import __spark_entry__
    from rgd_rnaseq_workflows_spark.session import get_spark
    __spark_entry__._PKG_ZIP = None     # built once per process; rebuild it
    t0 = time.perf_counter()
    spark = get_spark()
    t1 = time.perf_counter()
    __spark_entry__._ensure_worker_imports(spark)
    t2 = time.perf_counter()
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", "setup")
    _warm(spark)
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    t3 = time.perf_counter()
    return spark, {"start_s": t1 - t0, "ship_s": t2 - t1, "warm_s": t3 - t2,
                   "total_s": t3 - t0}


def stop_jvm() -> None:
    """Stop the active session, if any, and the gateway JVM under it, and
    wait for the JVM; the next ``get_spark`` launches a new one."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession
    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def _status_kb(pid: int, key: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


def jvm_pid() -> int:
    """The driver JVM: the gateway process itself, or its java child."""
    from pyspark import SparkContext
    pid = SparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/comm") as f:
        if f.read().strip() == "java":
            return pid
    for p in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{p}/comm") as f:
                if int(fields[1]) == pid and f.read().strip() == "java":
                    return int(p)
        except OSError:
            continue
    raise RuntimeError("driver JVM not found")


def peak_rss_mb() -> float:
    return (_status_kb(jvm_pid(), "VmHWM") + _status_kb(os.getpid(), "VmHWM")) / 1024


def timed_loop(run_item, first: int, seconds: float, min_items: int,
               tracer=None) -> list[dict]:
    """The one timing loop: closed loop, one client. Items run back to back
    until ``seconds`` have passed and at least ``min_items`` have run. With
    a ``tracer``, items alternate traced and untraced, starting traced."""
    items = []
    t_loop = time.perf_counter()
    while len(items) < min_items or time.perf_counter() - t_loop < seconds:
        traced = tracer is not None and len(items) % 2 == 0
        items.append(run_item(first + len(items), tracer if traced else None))
    return items


def make_item(workload, name: str):
    def run_item(i: int, tracer=None) -> dict:
        out = os.path.join(WORK, "out", f"item{i}")
        rc, err = None, None
        if tracer is not None:
            tracer.install(name)
        t0 = time.perf_counter()
        try:
            if tracer is None:
                rc = workload.run(out)
            else:
                with tracer.span(f"item{i}"):
                    rc = workload.run(out)
        except Exception:  # noqa: BLE001 — a failed item is counted, not fatal
            err = traceback.format_exc()
        wall = time.perf_counter() - t0
        if tracer is not None:
            tracer.restore()
        if err:
            print(f"[bench] item{i} raised:\n{err}", file=sys.stderr, flush=True)
        return {"name": f"item{i}", "out": out, "wall_s": wall, "rc": rc, "error": err,
                "traced": tracer is not None}
    return run_item


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    n_bytes = n_files = 0
    for d, _, files in os.walk(path):
        for f in files:
            n_bytes += os.path.getsize(os.path.join(d, f))
            n_files += 1
    return n_bytes, n_files


def check_items(workload, items: list[dict]) -> int:
    failed, first = 0, True
    for it in items:
        bad = ([f"exit code {it['rc']}"] if it["rc"] != 0 else []) + (
            ["exception"] if it["error"] else [])
        if not bad:
            bad, first = workload.check(it["out"], first=first), False
        if bad:
            failed += 1
            print(f"[bench] {it['name']} failed: {bad}", file=sys.stderr, flush=True)
    return failed


def environment(args, workload) -> dict:
    import pyspark
    java = subprocess.run(["java", "-XX:-UsePerfData", "-version"], capture_output=True,
                          text=True).stderr
    commit = None
    try:
        # the ceiling keeps git from searching the checkout's parents
        env = {**os.environ, "GIT_CEILING_DIRECTORIES": os.path.dirname(ROOT)}
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                text=True, timeout=10, env=env).stdout.strip() or None
    except OSError:
        pass
    return {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "commit": commit, "spark": pyspark.__version__,
            "java": java.splitlines()[0] if java else None,
            "python": platform.python_version(), "nproc": os.cpu_count(),
            "sizes": SIZES[args.workload], "input_bytes": workload.in_bytes,
            "input_rows": workload.in_rows}


def run(args: argparse.Namespace) -> tuple[dict, dict]:
    """Returns (result, record): the contract's result line and the run's
    environment and item walls."""
    t_gen = time.perf_counter()
    workload = WORKLOADS[args.workload](args.seed)
    phases = {"generate_s": time.perf_counter() - t_gen}
    run_item = make_item(workload, args.workload)
    t_import = time.perf_counter()
    import __spark_entry__  # noqa: F401
    import pyspark  # noqa: F401
    from rgd_rnaseq_workflows_spark import run_corpus, run_pipeline  # noqa: F401
    phases["import_s"] = time.perf_counter() - t_import
    spark, s = setup_session()
    setups = [s]
    if args.trace == 0:
        # what a one-shot CLI call pays: the first item in a fresh session,
        # then the loop for the rest of --seconds
        items = timed_loop(run_item, 0, args.seconds, min_items=1)
        stop_jvm()
        for _ in range(N_SETUPS - 1):
            _, s = setup_session()
            setups.append(s)
            stop_jvm()
        first = items[0]["wall_s"]
        out_bytes, _ = dir_stats(items[0]["out"])
        metrics = {"setup_s": statistics.median(s["total_s"] for s in setups),
                   "first_wall_s": first,
                   "rows_per_s": workload.in_rows / first,
                   "out_bytes_per_in_byte": out_bytes / workload.in_bytes}
        units = declared_units("end_to_end")
    else:
        import spans
        tracer = spans.Tracer(spark.sparkContext)
        # the cold item, then a warm-up item (JIT compilation still speeds
        # the first warm item up by 10-30 %), both untraced; then traced,
        # untraced, ...: the overhead compares warm neighbours
        items = [run_item(0), run_item(1)]
        loop = timed_loop(run_item, 2, args.seconds, min_items=2, tracer=tracer)
        items += loop
        rss = peak_rss_mb()
        stop_jvm()      # flushes the event log
        log = spans.parse_dir(os.path.join(WORK, "events"))
        traced = [it for it in loop if it["traced"]]
        plain = [it for it in loop if not it["traced"]]
        rows = []
        for it in traced:
            m = spans.item_layers(log, tracer, it["name"], it["wall_s"], workload.in_bytes)
            m["sinks.files"] = dir_stats(it["out"])[1]
            m["orchestrator.stages_failed"] = (
                len(checks.stages_missing(it["out"]))
                if args.workload == "pipeline_project" else 0)
            rows.append(m)
        metrics = spans.median_table(rows)
        metrics.update({f"session.{k}": s[k] for k in ("start_s", "ship_s", "warm_s")})
        metrics["session.import_s"] = phases["import_s"]
        metrics["item.warm_wall_s"] = statistics.median(it["wall_s"] for it in plain)
        metrics["driver.peak_rss_mb"] = rss
        metrics["trace.overhead_s"] = (statistics.median(it["wall_s"] for it in traced)
                                       - metrics["item.warm_wall_s"])
        units = declared_units("per_layer")
    t_check = time.perf_counter()
    failed = check_items(workload, items)
    phases["check_s"] = time.perf_counter() - t_check
    result = {"correct": failed == 0, "attempted": len(items), "failed": failed,
              "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()}}
    phases["setups_s"] = [s["total_s"] for s in setups]
    record = {"env": environment(args, workload), "phases": phases,
              "output_digest": getattr(workload, "digest", None),
              "items": [{"name": it["name"], "wall_s": it["wall_s"], "traced": it["traced"]}
                        for it in items]}
    return result, record


def main(argv: list[str] | None = None) -> int:
    args = parse_args(sys.argv[1:] if argv is None else argv)
    for need in ("__spark_entry__.py", "rgd_rnaseq_workflows_spark/__init__.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a checkout "
                  "of the repository", file=sys.stderr)
            return 2
    sys.path.insert(0, ROOT)
    prepare_env(args.trace == 1)
    out, err = redirect_output()
    try:
        result, record = run(args)
    except Exception:  # noqa: BLE001 — report and exit non-zero, no result line
        traceback.print_exc()
        err.write(traceback.format_exc())
        err.write(f"perfbench: failed; see {os.path.join(WORK, 'run.log')}\n")
        err.flush()
        return 1
    finally:
        try:
            stop_jvm()
        except Exception:  # noqa: BLE001 — best effort at exit
            traceback.print_exc()
    with open(os.path.join(WORK, "record.json"), "w") as f:
        json.dump({**record, **result}, f, indent=1)
    out.write(json.dumps(record) + "\n")
    out.write(json.dumps(result) + "\n")
    out.flush()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

"""Seeded benchmark of the warehouse engine: one workload per run.

    python3 perfbench/run.py --workload serving_queries --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it is the full report (host, set-up phases,
each workload's own metric names with sample counts, failures). A traced
run also writes its spans and per-layer metrics to ``.perfbench/traces/``.

Every file the run makes lives under ``.perfbench/`` in the checkout and
the run's own work directory is removed when it ends.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "gmall_flink_2022_spark"

#: workload name -> module that runs it
WORKLOADS = {"serving_queries": "serving", "stream_ingest": "stream",
             "llm_curation": "curation"}
#: Driver JVM heap. The package default (16g) exceeds a 15 GB host; the
#: largest workload peaks well under this.
DRIVER_MEM = "2g"

END_TO_END = {
    "setup_s": "s",
    "op_gmean_s": "s",
    "batch_s": "s",
}
#: Per-layer metrics of the workloads in BENCHMARK.json. A traced run's
#: trace file also keeps the numbers outside this list (the streaming-state
#: and late-event numbers of stream_ingest).
PER_LAYER = {
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.self_s": "s",
    "spark.plan_s": "s",
    "spark.action_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.job_busy_s": "s",
    "spark.driver_gap_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.failed_tasks": "count",
    "spark.self_s": "s",
    "sources.dim_store.upsert_s": "s",
    "sources.dim_store.upsert_jobs": "count",
    "sources.dim_store.read_s": "s",
    "sources.dim_store.files": "count",
    "sources.self_s": "s",
    "streaming.batches": "count",
    "streaming.batch_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.planning_ms": "ms",
    "streaming.latest_offset_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_ms": "ms",
    "llm.training_shards_s": "s",
    "llm.training_shards.jobs": "count",
    "llm.bpe_train_s": "s",
    "llm.bpe_train.jobs": "count",
    "llm.bpe_apply_s": "s",
    "llm.bpe_apply.jobs": "count",
    "llm.ingest_with_dedup_s": "s",
    "llm.ingest_with_dedup.jobs": "count",
    "llm.self_s": "s",
    "gen.distinct_keys": "count",
    "gen.dup_rate": "share",
    "trace.overhead_s": "s",
    "mem.peak_rss_mb": "MB",
}


class Ctx:
    """What a workload needs: the session (set once it has started), the
    tracer, its inputs' seed and run length, a work directory, and the run's
    operation counters."""

    def __init__(self, tracer, work: str, seed: int, seconds: float):
        self.spark = None
        self.tracer = tracer
        self.jobs = None  # trace.SparkJobs when traced
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []
        self.setup: dict[str, float] = {}

    def note(self, msg: str) -> None:
        self.notes.append(msg[:500])

    def check(self, name: str, ok: bool) -> None:
        """Count one output check."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.note(f"{name}: output differs from its oracle")

    @contextmanager
    def op(self, op_id: str):
        """Run one operation under its own job group."""
        self.spark.sparkContext.setJobGroup(op_id, op_id)
        yield

    def release(self) -> None:
        """Between operations: drop every cache the program registered."""
        from gmall_flink_2022_spark.llm import cachereg

        cachereg.release_all()
        self.spark.catalog.clearCache()

    @contextmanager
    def setup_phase(self, name: str):
        t0 = time.perf_counter()
        yield
        self.setup[name] = self.setup.get(name, 0.0) + time.perf_counter() - t0

    def generate(self, make, out_dir: str) -> dict:
        """Generate the inputs (same seed, same bytes: the benchmark's tests
        check that); set-up counts the time."""
        with self.setup_phase("gen"):
            return make(out_dir)

    def op_numbers(self, op: str, wall_s: float, jobs: list | None = None) -> dict:
        """plans.* and spark.* numbers of one traced operation."""
        from spans import jobs_within, summarize_jobs

        t0 = time.perf_counter()
        jobs = self.jobs.jobs(op) if jobs is None else jobs
        spans = [s for s in self.tracer.spans if s["op"] == op]
        # the callable that builds the frame: a registry entry or an llm entry point
        build = [s for s in spans if s["name"] == "plans.build" or s["name"].startswith("llm.")]
        out = summarize_jobs(jobs, wall_s)
        out["plans.build_s"] = sum(s["end"] - s["start"] for s in build)
        out["plans.build_jobs"] = jobs_within(jobs, build)
        for name in ("spark.plan", "spark.action"):
            out[f"{name}_s"] = sum(s["end"] - s["start"] for s in spans if s["name"] == name)
        self.tracer.overhead_s += time.perf_counter() - t0
        return out


def _dir_digest(path: str, suffix: str = "") -> str:
    import hashlib

    h = hashlib.sha256()
    for dirpath, dirs, files in os.walk(path):
        dirs.sort()
        for f in sorted(files):
            if not f.endswith(suffix):
                continue
            h.update(os.path.relpath(os.path.join(dirpath, f), path).encode())
            with open(os.path.join(dirpath, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def _cpu_ticks() -> list[int]:
    """The host's aggregate CPU counters from /proc/stat (user, nice, system,
    idle, iowait, irq, softirq, steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def _cpu_shares(before: list[int], after: list[int]) -> dict:
    """Busy and stolen shares of the host's CPU time between two readings:
    steal is time the hypervisor gave to other guests."""
    d = [b - a for a, b in zip(before, after)]
    total = max(sum(d), 1)
    return {"cpu_busy_share": (total - d[3] - d[4] - d[7]) / total,
            "cpu_steal_share": d[7] / total}


def _commit() -> str:
    """The git commit, or a digest of the package sources in a checkout
    that is not a git repository."""
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0 and out.stdout.strip():
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "tree-" + _dir_digest(os.path.join(ROOT, PACKAGE), suffix=".py")[:16]


def _start_spark(work: str):
    from gmall_flink_2022_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        "perfbench",
        **{
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.sql.streaming.numRecentProgressUpdates": "10000",
        },
    )


def _stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM (and with it every
    Python worker) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _layer_metrics(ctx, out: dict, peak_rss_mb: float) -> dict:
    """Every per-layer metric, 0 where the workload did not use the layer.
    plans.* and spark.* are means over the workload's traced operations."""
    m = {k: 0.0 for k in PER_LAYER}
    ops = out.get("per_op") or []
    for k in ops[0] if ops else ():
        m[k] = sum(o[k] for o in ops) / len(ops)
    m.update({k: v for k, v in out.get("layer", {}).items() if k in PER_LAYER})
    m.update({k: v for k, v in out["gen"].items() if k in PER_LAYER})
    for layer, s in ctx.tracer.self_times().items():
        if f"{layer}.self_s" in PER_LAYER:
            m[f"{layer}.self_s"] = s
    m["trace.overhead_s"] = ctx.tracer.overhead_s
    m["mem.peak_rss_mb"] = peak_rss_mb
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE} package next to {HERE}; run from a full checkout",
              file=sys.stderr)
        return 2

    state = os.path.join(ROOT, ".perfbench")
    work = os.path.join(state, f"run-{os.getpid()}")
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    nproc = len(os.sched_getaffinity(0))
    os.environ.update(
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_GRAFT_CPUS=str(nproc),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        # Python workers import the package's pickled operator functions
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    sys.path.insert(1, ROOT)
    tempfile.tempdir = None  # re-read TMPDIR
    from spans import RssSampler, SparkJobs, Tracer

    workload = importlib.import_module(WORKLOADS[args.workload])
    host = {"nproc": nproc, "load1_before": _load1(), "commit": _commit(),
            "driver_mem": DRIVER_MEM}
    ticks0 = _cpu_ticks()
    tracer = Tracer(enabled=bool(args.trace))
    ctx = Ctx(tracer, work, args.seed, args.seconds)
    spark = None
    try:
        with RssSampler() as rss:
            inputs = workload.prepare(ctx)
            with ctx.setup_phase("session"):
                spark = ctx.spark = _start_spark(work)
            if args.trace:
                ctx.jobs = SparkJobs(spark)
            with tracer.span("bench.run", args.workload):
                out = workload.run(ctx, inputs)
        _stop_spark(spark)
        spark = None
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    host["load1_after"] = _load1()
    host.update(_cpu_shares(ticks0, _cpu_ticks()))

    e2e = dict(out["e2e"])
    e2e["setup_s"] = sum(ctx.setup.values())
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host": host, "setup": ctx.setup,
        "end_to_end": e2e, **out.get("report", {}), "gen": out["gen"],
        "peak_rss_mb": rss.peak_mb,
        "failed_ratio": ctx.failed / max(ctx.attempted, 1), "notes": ctx.notes,
    }
    if args.trace:
        metrics = _layer_metrics(ctx, out, rss.peak_mb)
        units = PER_LAYER
        os.makedirs(os.path.join(state, "traces"), exist_ok=True)
        path = os.path.join(state, "traces", f"{args.workload}-seed{args.seed}.json")
        tracer.write(path, {"report": report, "per_layer": metrics,
                            "layer": out.get("layer", {}), "per_op": out.get("per_op", [])})
        report["trace_file"] = os.path.relpath(path, ROOT)
    else:
        metrics, units = e2e, END_TO_END
    print(json.dumps(report, default=str))
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Spans and Spark job/stage data, recorded from outside the program.

Spans wrap the benchmark's own calls into each layer (name prefix = layer:
``plans.build``, ``spark.action``, ``llm.training_shards``,
``sources.dim_store.upsert`` ...). They are kept in memory and written
once, when the run ends. Spark's own numbers are read from the driver's
status store by job group: every benchmark operation runs under a job
group named after its operation id, and a streaming query's jobs carry its
run id as their group.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from contextlib import contextmanager

from stats import clipped_union, union_length

_MB = 1024 * 1024


class Tracer:
    """In-memory spans. When disabled, ``span`` records nothing, so the
    untraced run executes the same benchmark code."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.overhead_s = 0.0  # time the tracer spends collecting
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[tuple[int, str | None]]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        parent, parent_op = stack[-1] if stack else (None, None)
        sid = next(self._ids)
        op = op or parent_op
        stack.append((sid, op))
        t0 = time.time()
        try:
            yield
        finally:
            stack.pop()
            rec = {"id": sid, "name": name, "start": t0, "end": time.time(),
                   "parent": parent, "op": op}
            with self._lock:
                self.spans.append(rec)

    def total(self, name: str) -> float:
        """Summed duration of every span called ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[str, float]:
        """Per layer: span time not covered by the span's own children."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            covered = clipped_union(kids.get(s["id"], []), s["start"], s["end"])
            layer = s["name"].split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)


# ------------------------------------------------------------ Spark status
class SparkJobs:
    """Job and stage numbers from the driver's status store, by job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()

    def _settle(self) -> None:
        # job-end events reach the status store asynchronously
        self._jsc.listenerBus().waitUntilEmpty()

    def jobs(self, group: str) -> list[dict]:
        """Every job of ``group``: submission/completion (epoch s) and the
        summed numbers of its executed stages."""
        self._settle()
        store = self._jsc.statusStore()
        out = []
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            jd = store.job(jid)
            sub, done = jd.submissionTime(), jd.completionTime()
            job = {
                "job": jid,
                "start": sub.get().getTime() / 1e3 if sub.isDefined() else None,
                "end": done.get().getTime() / 1e3 if done.isDefined() else None,
                "stages": 0, "tasks": 0, "failed_tasks": 0,
                "executor_run_s": 0.0, "executor_cpu_s": 0.0,
                "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
            }
            sids = jd.stageIds()
            for i in range(sids.size()):
                try:
                    st = store.lastStageAttempt(sids.apply(i))
                except Exception:  # noqa: BLE001 - a stage skipped by shuffle reuse has no attempt
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                job["stages"] += 1
                job["tasks"] += st.numTasks()
                job["failed_tasks"] += st.numFailedTasks()
                job["executor_run_s"] += st.executorRunTime() / 1e3
                job["executor_cpu_s"] += st.executorCpuTime() / 1e9
                job["shuffle_read_mb"] += st.shuffleReadBytes() / _MB
                job["shuffle_write_mb"] += st.shuffleWriteBytes() / _MB
                job["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / _MB
            out.append(job)
        return out


SPARK_SUMS = ("stages", "tasks", "failed_tasks", "executor_run_s", "executor_cpu_s",
              "shuffle_read_mb", "shuffle_write_mb", "spill_mb")


def summarize_jobs(jobs: list[dict], wall_s: float) -> dict[str, float]:
    """One operation's spark.* numbers: job count, summed stage numbers,
    the union of job intervals and the wall not covered by any job."""
    out = {f"spark.{k}": sum(j[k] for j in jobs) for k in SPARK_SUMS}
    busy = union_length([(j["start"], j["end"]) for j in jobs
                         if j["start"] is not None and j["end"] is not None])
    out["spark.jobs"] = len(jobs)
    out["spark.job_busy_s"] = busy
    out["spark.driver_gap_s"] = max(wall_s - busy, 0.0)
    return out


def jobs_within(jobs: list[dict], spans: list[dict]) -> int:
    """Jobs submitted inside any of ``spans`` (epoch-second intervals)."""
    return sum(
        1 for j in jobs
        if j["start"] is not None
        and any(s["start"] <= j["start"] <= s["end"] for s in spans)
    )


# ------------------------------------------------------------ memory
def _tree_rss_mb(root: int) -> float:
    """Resident memory of ``root`` and all its descendants (the driver
    JVM and the Python workers are children of this process)."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        parent[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    tree, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total / _MB


class RssSampler:
    """Samples the process tree's resident memory every ``period`` s on a
    daemon thread; ``peak_mb`` is the highest sum seen."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, _tree_rss_mb(me))
            self._stop.wait(self.period)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

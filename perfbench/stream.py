"""``stream_ingest``: an open loop of event files into two concurrent
Structured Streaming queries composed from the package's public functions.

* stats: ``visitor_stats_scale_agg`` (watermarked update-mode window
  aggregation) with ``DimStore.upsert`` in ``foreachBatch`` (the
  ClickHouse-sink shape: it writes);
* uv: ``unique_visit_stateful`` (Python state in RocksDB) into a memory
  sink.

The run starts with a pre-staged backlog (the restart-after-outage shape):
both queries start on it and drain it. Then one generator thread lands the
remaining files at ``gen.STREAM_FILES_PER_S`` on a fixed schedule that does
not slow down when the queries do, for ``--seconds``. A file's freshness
is the time from its due time on that schedule until every query has
committed the first micro-batch that read it.

Checks (untimed, after both queries settled): the stats table against the
``stream_visitor_stats_scale`` oracle (exact counts and sums, the HLL
estimate within that entry's tolerance); the UV keys against the
``stream_unique_visit`` oracle, each ``first_ts`` being an event of its
key and day (with late events, the first event seen need not be the
earliest).
"""

from __future__ import annotations

import json
import os
import tempfile
import threading
import time
from datetime import datetime, timezone

import duckdb
from pyspark.sql import functions as F

import gen
import oracle
import streamstats
from gmall_flink_2022_spark import plans
from gmall_flink_2022_spark.plans.streaming_plans import visitor_stats_scale_agg
from gmall_flink_2022_spark.sources.dim_store import DimStore
from gmall_flink_2022_spark.streaming.runner import DEFAULT_STATE_PARTITIONS
from gmall_flink_2022_spark.streaming.uv_state import unique_visit_stateful
from spans import jobs_within, summarize_jobs
from stats import files_lagging, freshness, gmean, median, tail_percentile

_POLL_S = 0.02
EVENTS_DDL = ("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, "
              "value DOUBLE, props STRING")
_SETTLE_TIMEOUT_S = 60.0


def _commit_time(p) -> float:
    start = datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    start = start.replace(tzinfo=timezone.utc).timestamp()
    return start + p["durationMs"]["triggerExecution"] / 1e3


def _file_batches(ckpt: str) -> dict[str, int]:
    """File name -> id of the first batch that read it, from the file
    source's metadata log in the query checkpoint."""
    log = os.path.join(ckpt, "sources", "0")
    out: dict[str, int] = {}
    for name in os.listdir(log):
        if name.startswith("."):
            continue
        with open(os.path.join(log, name)) as f:
            for line in f:
                if line.startswith("{"):
                    e = json.loads(line)
                    base = os.path.basename(e["path"])
                    out[base] = min(e["batchId"], out.get(base, e["batchId"]))
    return out


def _covered(ckpt: str, progress: list) -> dict[str, float]:
    """File name -> commit time of the first batch of this query that read it."""
    commit = {p["batchId"]: _commit_time(p) for p in progress}
    return {f: commit[b] for f, b in _file_batches(ckpt).items() if b in commit}


class Lander:
    """Moves pre-staged files into the landing directory at their due
    times, on its own thread; records due and landing times."""

    def __init__(self, staged: str, land: str, names: list[str], rate: float):
        self.staged, self.land, self.names, self.rate = staged, land, names, rate
        self.due: dict[str, float] = {}
        self.landed: dict[str, float] = {}
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        t0 = time.time()
        for i, name in enumerate(self.names):
            due = t0 + i / self.rate
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            os.replace(os.path.join(self.staged, name), os.path.join(self.land, name))
            self.due[name] = due
            self.landed[name] = time.time()

    def start(self) -> None:
        self._thread.start()

    def join(self) -> None:
        self._thread.join()


def _rows_read(q) -> int:
    return sum(p["numInputRows"] for p in q.recentProgress)


def prepare(ctx) -> dict:
    staged = os.path.join(ctx.work, "staged")
    gen_values = ctx.generate(lambda d: gen.stream_inputs(d, ctx.seed, ctx.seconds), staged)
    return {"staged": staged, "gen": gen_values}


def run(ctx, inputs: dict) -> dict:
    spark, tr = ctx.spark, ctx.tracer
    staged, gen_values = inputs["staged"], inputs["gen"]
    land = os.path.join(ctx.work, "land")
    names = sorted(os.listdir(staged))
    backlog, arrivals = names[: gen.STREAM_BACKLOG_FILES], names[gen.STREAM_BACKLOG_FILES:]
    os.makedirs(land)
    for n in backlog:
        os.replace(os.path.join(staged, n), os.path.join(land, n))
    per_file = gen.STREAM_EVENTS_PER_FILE

    store = DimStore(spark, os.path.join(ctx.work, "store"))

    def upsert(batch, batch_id: int) -> None:
        with tr.span("sources.dim_store.upsert", "stats"):
            store.upsert("visitor_stats_scale", batch, pk="_k")

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(DEFAULT_STATE_PARTITIONS))
    ev = spark.readStream.schema(EVENTS_DDL).parquet(land)
    ck = {k: os.path.join(ctx.work, f"ckpt-{k}") for k in ("stats", "uv")}
    uv_table = f"perfbench_uv_{os.getpid()}"
    t_start = time.time()
    queries = {
        "stats": visitor_stats_scale_agg(ev).writeStream.outputMode("update")
        .foreachBatch(upsert).option("checkpointLocation", ck["stats"]).start(),
        "uv": unique_visit_stateful(ev.select("user_id", "ts")).writeStream
        .format("memory").queryName(uv_table).outputMode("append")
        .option("checkpointLocation", ck["uv"]).start(),
    }
    lander = Lander(staged, land, arrivals, gen.STREAM_FILES_PER_S)
    try:
        with tr.span("streaming.backlog", "stream"):
            _wait_rows(queries, len(backlog) * per_file)
        t_drained = time.time()
        lander.start()
        with tr.span("streaming.open_loop", "stream"):
            lander.join()
            _wait_rows(queries, len(names) * per_file)
    finally:
        for q in queries.values():
            q.stop()
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    # every batch, not only those reporting input rows: a batch planned as
    # a no-data batch can still read a file that landed meanwhile
    progress = {k: list(q.recentProgress) for k, q in queries.items()}
    covered = [_covered(ck[k], progress[k]) for k in queries]
    committed = {f: max(c[f] for c in covered) for f in names if all(f in c for c in covered)}
    backlog_done = max(committed.get(f, float("inf")) for f in backlog)
    drain_s = backlog_done - t_start
    fresh = freshness(lander.due, covered)
    ctx.attempted += len(names)
    missing = [(f, [k for k, c in zip(queries, covered) if f not in c])
               for f in names if f not in committed]
    if missing:
        ctx.failed += len(missing)
        ctx.note(f"files never committed by every query: {missing[:5]}")
    lat = list(fresh.values())

    with ctx.op("check"):
        t0 = time.time()
        with tr.span("sources.dim_store.read", "check"):
            settled = store.read("visitor_stats_scale").drop("_k").toPandas()
        read_s = time.time() - t0
        uv = spark.table(uv_table).withColumn("dt", F.date_format("dt", "yyyy-MM-dd")).toPandas()
    _check(ctx, land, settled, uv)
    files = store.file_count("visitor_stats_scale")
    gen_values["gen.late_max_s"] = max(
        (lander.landed[f] - lander.due[f] for f in arrivals), default=0.0)
    tail = tail_percentile(lat)
    out = {
        "e2e": {"op_gmean_s": gmean(lat), "batch_s": drain_s},
        "report": {
            "freshness_p50_s": median(lat),
            "freshness_samples": len(lat),
            "freshness_tail": tail and {"p": tail[0], "s": tail[1]},
            "catchup_events_per_s": len(backlog) * per_file / drain_s,
            "backlog_drain_s": drain_s,
            "open_loop_start_s": t_drained - t_start,
            "offered_files_per_s": gen.STREAM_FILES_PER_S,
            "dim_store_files": files,
        },
        "gen": gen_values,
    }
    if tr.enabled:
        out["per_op"], out["layer"] = _layer(ctx, queries, progress, lander, committed,
                                             read_s, files)
    return out


def _wait_rows(queries: dict, rows: int) -> None:
    """Block until every query has read ``rows`` input rows."""
    deadline = time.time() + _SETTLE_TIMEOUT_S
    while any(_rows_read(q) < rows for q in queries.values()):
        for q in queries.values():
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
        if time.time() > deadline:
            raise TimeoutError(f"queries did not read {rows} rows in time")
        time.sleep(_POLL_S)
    for q in queries.values():
        q.processAllAvailable()


def _check(ctx, land: str, settled, uv) -> None:
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{tempfile.gettempdir()}'")
    try:
        con.execute(f"CREATE VIEW events AS SELECT * FROM '{os.path.join(land, '*.parquet')}'")
        con.register("settled", settled)
        got = con.execute(
            "SELECT stt, event_type, pv_ct, dur_sum, "
            "abs(uv_ct_approx - uv_exact) <= greatest(2.0, uv_exact * 0.10) AS uv_approx_ok "
            "FROM settled JOIN (SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') "
            "AS stt, event_type, count(DISTINCT user_id) AS uv_exact FROM events "
            "GROUP BY ALL) USING (stt, event_type)"
        ).fetchdf()
        want = con.execute(plans.REGISTRY["stream_visitor_stats_scale"].oracle).fetchdf()
        ctx.check("stats", len(got) == len(settled) and oracle.same(got, want))
        con.register("uv", uv)
        want = con.execute(
            "SELECT user_id, strftime(ts, '%Y-%m-%d') AS dt FROM events GROUP BY ALL"
        ).fetchdf()
        ctx.check("uv keys", oracle.same(uv[["user_id", "dt"]], want))
        stray = con.execute(
            "SELECT count(*) FROM uv WHERE NOT EXISTS (SELECT 1 FROM events e "
            "WHERE e.user_id = uv.user_id AND e.ts = uv.first_ts "
            "AND strftime(e.ts, '%Y-%m-%d') = uv.dt)"
        ).fetchone()[0]
        ctx.check("uv first_ts", stray == 0)
    finally:
        con.close()


def _layer(ctx, queries, progress, lander, committed, read_s, files) -> tuple[list, dict]:
    t0 = time.perf_counter()
    all_progress = [p for k in progress for p in progress[k]]
    layer = streamstats.progress_numbers(all_progress)
    per_op = []
    upserts = ctx.tracer.named("sources.dim_store.upsert")
    for k, q in queries.items():
        jobs = ctx.jobs.jobs(str(q.runId))
        n = max(len(progress[k]), 1)
        nums = summarize_jobs(jobs, sum(p["durationMs"]["triggerExecution"] for p in progress[k]) / 1e3)
        per_op.append({key: v / n for key, v in nums.items()})  # per micro-batch
        if k == "stats":
            layer["sources.dim_store.upsert_jobs"] = jobs_within(jobs, upserts) / max(len(upserts), 1)
    layer["sources.dim_store.upsert_s"] = (
        sum(s["end"] - s["start"] for s in upserts) / max(len(upserts), 1))
    layer["sources.dim_store.read_s"] = read_s
    layer["sources.dim_store.files"] = files
    layer["sources.file_lag_files"] = files_lagging(lander.landed, committed)
    ctx.tracer.overhead_s += time.perf_counter() - t0
    return per_op, layer

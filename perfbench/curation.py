"""``llm_curation``: one batch curation pass, then streamed arrival batches
deduplicated against a persisted index.

The pass is ``llm.curation.training_shards`` (paragraph dedup -> Gopher ->
exact/MinHash dedup -> decontamination -> mixture -> packing -> shuffle
order) written shard-partitioned, then ``llm.bpe.bpe_train`` on the even
survivors and ``bpe_apply`` on the odd ones. The session is cold, as it is
for a batch job run on its own; there is no warm-up.

Then ``build_dedup_index`` bootstraps a ``DimStore`` index from the corpus
and arrival files land one at a time in a directory read by a Structured
Streaming query (one file per micro-batch) whose ``foreachBatch`` runs
``ingest_with_dedup`` and appends the decisions: the package's
continuous-ingest shape. The next file lands when the previous batch has
committed. The first batch is a warm-up (set-up time); timed batches follow
until ``--seconds`` have passed, at least ``gen.ARRIVAL_BATCHES_MIN``.

Checks (untimed, after the run): the shard manifest against the registry
oracle of ``llm_training_shards``; merges and encodings against the BPE
oracles over the oracle's own survivors; every batch's decisions against
the incremental-dedup oracle chained over the batches that ran.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

import pandas as pd
from pyspark.sql import functions as F, types as T

import gen
import oracle
import streamstats
from gmall_flink_2022_spark import plans
from gmall_flink_2022_spark.llm import bpe, incremental as inc
from gmall_flink_2022_spark.llm.curation import training_shards
from gmall_flink_2022_spark.plans import llm_plans
from gmall_flink_2022_spark.sources.dim_store import DimStore
from spans import jobs_within
from stats import gmean, median, tail_percentile

BPE_MERGES = 8
CURATION_OPS = ("training_shards", "bpe_train", "bpe_apply")
ARRIVAL_SCHEMA = T.StructType([T.StructField("doc_id", T.LongType()),
                               T.StructField("text", T.StringType())])
_POLL_S = 0.02


class TracedDimStore(DimStore):
    """A DimStore whose upsert and read calls record spans."""

    def __init__(self, spark, root: str, tracer):
        super().__init__(spark, root)
        self.tracer = tracer

    def upsert(self, table, batch, pk="id"):
        with self.tracer.span("sources.dim_store.upsert"):
            return super().upsert(table, batch, pk)

    def read(self, table):
        with self.tracer.span("sources.dim_store.read"):
            return super().read(table)


@contextmanager
def _timed_op(ctx, name: str, times: dict):
    with ctx.op(name), ctx.tracer.span("bench.op", name):
        t0 = time.perf_counter()
        yield
        times[name] = time.perf_counter() - t0


def _curate(ctx, docs_path: str, shards_dir: str) -> dict:
    spark, tr = ctx.spark, ctx.tracer
    times: dict[str, float] = {}
    with _timed_op(ctx, "training_shards", times):
        # one read per input, as the registry entry llm_training_shards does
        read = lambda: spark.read.parquet(docs_path)  # noqa: E731
        with tr.span("llm.training_shards"):
            manifest = training_shards(
                llm_plans._para_corpus_from(read()),
                read().filter(F.col("doc_id") % 13 == 0).select("doc_id", "text"),
                read().select("doc_id", "lang"),
                "doc_id", "text", window=llm_plans._PARA_W,
            )
        with tr.span("spark.action"):
            manifest.write.mode("overwrite").partitionBy("shard").parquet(shards_dir)
    ctx.release()
    survivors = (
        spark.read.parquet(docs_path)
        .join(spark.read.parquet(shards_dir).select(F.col("id").alias("doc_id")), "doc_id")
        .select("doc_id", "text")
    )
    with _timed_op(ctx, "bpe_train", times), tr.span("llm.bpe_train"):
        merges = bpe.bpe_train(survivors.filter(F.col("doc_id") % 2 == 0), "text",
                               n_merges=BPE_MERGES)
    with _timed_op(ctx, "bpe_apply", times):
        with tr.span("llm.bpe_apply"):
            enc = bpe.bpe_apply(survivors.filter(F.col("doc_id") % 2 == 1), merges, "text")
        with tr.span("spark.action"):
            encoded = enc.toPandas()
    merges = merges.toPandas()  # bpe_train returns a driver-built frame: no job
    ctx.release()
    return {"times": times, "merges": merges, "encoded": encoded}


def _stream_arrivals(ctx, data: str, store, land: str, out_dir: str, ckpt: str) -> dict:
    """Land arrival files one per micro-batch: one warm-up file, then timed
    ones until ``--seconds`` have passed (at least ARRIVAL_BATCHES_MIN)."""
    tr = ctx.tracer
    ingested = []

    def ingest(batch, batch_id: int) -> None:
        with tr.span("bench.op", "ingest"):
            with tr.span("llm.ingest_with_dedup"):
                decisions = inc.ingest_with_dedup(store, batch)
            with tr.span("spark.action"):
                decisions.write.mode("append").parquet(out_dir)
        ingested.append(batch_id)

    os.makedirs(land)
    q = (
        ctx.spark.readStream.schema(ARRIVAL_SCHEMA).option("maxFilesPerTrigger", 1)
        .parquet(land).writeStream.foreachBatch(ingest)
        .option("checkpointLocation", ckpt).start()
    )
    landed = 0

    def land_one() -> None:
        nonlocal landed
        name = f"arrivals_{landed}.parquet"
        os.replace(os.path.join(data, name), os.path.join(land, name))
        landed += 1
        while len(ingested) < landed:
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
            time.sleep(_POLL_S)

    try:
        # the query's first micro-batch is cold (query start, first plans of
        # the dedup UDFs): it counts as set-up, not as a timed batch
        with ctx.setup_phase("warmup_batch"):
            land_one()
        t_end = time.perf_counter() + ctx.seconds
        while landed <= gen.ARRIVAL_BATCHES_MIN or (
            landed < gen.ARRIVAL_BATCHES_MAX and time.perf_counter() < t_end
        ):
            land_one()
        q.processAllAvailable()
    finally:
        q.stop()
    timed = set(ingested[1:])
    progress = [p for p in q.recentProgress if p["batchId"] in timed]
    return {"landed": landed, "progress": progress, "run_id": str(q.runId)}


def _input_oracles(data: str) -> dict:
    """The oracle outputs that need only the inputs: the shard manifest, and
    the BPE merges and encodings over the oracle's own survivors."""
    con = oracle.connect(data)
    try:
        want = {"training_shards": con.execute(
            plans.REGISTRY["llm_training_shards"].oracle).fetchdf()}
        # the BPE oracles read `documents`: point it at the oracle's survivors
        con.register("oracle_manifest", want["training_shards"][["id"]])
        con.execute("CREATE TABLE surv AS SELECT d.doc_id, d.text FROM documents d "
                    "JOIN oracle_manifest m ON d.doc_id = m.id")
        con.execute("CREATE OR REPLACE VIEW documents AS SELECT * FROM surv "
                    "WHERE doc_id % 2 = 0")
        want["bpe_train"] = con.execute(bpe.bpe_train_oracle_sql(BPE_MERGES)).fetchdf()
        con.execute("CREATE OR REPLACE VIEW documents AS SELECT * FROM surv")
        want["bpe_apply"] = con.execute(bpe.bpe_apply_oracle_sql(BPE_MERGES)).fetchdf()
    finally:
        con.close()
    return want


def _check(ctx, data: str, shards_dir: str, out_dir: str, land: str, cur: dict,
           landed: int) -> None:
    """Untimed output checks; a mismatch counts as a failed operation."""
    want = _input_oracles(data)
    got = pd.read_parquet(shards_dir)
    got["shard"] = got["shard"].astype("int64")
    ctx.check("training_shards", oracle.same(got, want["training_shards"]))
    ctx.check("bpe_train", oracle.same(cur["merges"], want["bpe_train"]))
    ctx.check("bpe_apply", oracle.same(cur["encoded"], want["bpe_apply"]))
    con = oracle.connect(data)
    try:
        got = pd.read_parquet(out_dir)[["doc_id", "dup_kind", "match_id", "agree_n"]]
        decisions = _chained_decisions(con, os.path.join(data, "documents.parquet"), land, landed)
        ctx.check("ingest_with_dedup", oracle.same(got, decisions))
    finally:
        con.close()


def _chained_decisions(con, docs: str, land: str, k: int) -> pd.DataFrame:
    """Oracle decisions of k arrival batches, each against the corpus plus
    the 'new' docs of the batches before it. Each round is materialized: as
    one CTE chain, every round re-evaluates the rounds before it."""
    con.execute(f"CREATE TEMP TABLE idx0 AS SELECT doc_id, text FROM '{docs}'")
    for i in range(k):
        arr = os.path.join(land, f"arrivals_{i}.parquet")
        con.execute(f"CREATE TEMP VIEW arr{i} AS SELECT doc_id, text FROM '{arr}'")
        rnd = llm_plans._inc_round_sql(f"r{i}", f"idx{i}", f"arr{i}").strip()
        con.execute(f"CREATE TEMP TABLE dec{i} AS WITH {rnd} "
                    f"SELECT doc_id, dup_kind, match_id, agree_n FROM dr{i}")
        con.execute(f"CREATE TEMP TABLE idx{i + 1} AS SELECT doc_id, text FROM idx{i} "
                    f"UNION ALL SELECT a.doc_id, a.text FROM arr{i} a "
                    f"JOIN dec{i} d ON a.doc_id = d.doc_id WHERE d.dup_kind = 'new'")
    return con.execute(" UNION ALL ".join(f"SELECT * FROM dec{i}" for i in range(k))).fetchdf()


def prepare(ctx) -> dict:
    """Before the session starts: generate the corpus and arrival files."""
    data = os.path.join(ctx.work, "corpus")
    return {"data": data, "gen": ctx.generate(lambda d: gen.curation_inputs(d, ctx.seed), data)}


def run(ctx, inputs: dict) -> dict:
    data, gen_values = inputs["data"], inputs["gen"]
    docs_path = os.path.join(data, "documents.parquet")
    shards_dir, out_dir, land = (os.path.join(ctx.work, d) for d in ("shards", "decisions", "land"))

    t0 = time.perf_counter()
    cur = _curate(ctx, docs_path, shards_dir)
    curation_s = time.perf_counter() - t0

    root = os.path.join(ctx.work, "index")
    store = TracedDimStore(ctx.spark, root, ctx.tracer) if ctx.tracer.enabled else DimStore(ctx.spark, root)
    t0 = time.perf_counter()
    with ctx.op("build_index"), ctx.tracer.span("llm.build_dedup_index", "build_index"):
        inc.build_dedup_index(store, ctx.spark.read.parquet(docs_path))
    build_index_s = time.perf_counter() - t0
    ctx.release()
    arr = _stream_arrivals(ctx, data, store, land, out_dir, os.path.join(ctx.work, "ckpt"))
    batch_s = [p["durationMs"]["triggerExecution"] / 1e3 for p in arr["progress"]]
    ctx.attempted += arr["landed"]
    if len(batch_s) != arr["landed"] - 1:
        ctx.failed += 1
        ctx.note(f"{arr['landed']} arrival files, {len(batch_s) + 1} batches")

    t0 = time.perf_counter()
    _check(ctx, data, shards_dir, out_dir, land, cur, arr["landed"])
    check_s = time.perf_counter() - t0
    index_files = store.file_count(inc.DIGEST_TABLE) + store.file_count(inc.SIG_TABLE)
    tail = tail_percentile(batch_s)
    out = {
        "e2e": {"op_gmean_s": gmean(batch_s), "batch_s": curation_s},
        "report": {
            "curation_s": curation_s,
            "curation_phases_s": cur["times"],
            "index_batch_p50_s": median(batch_s),
            "index_batch_samples": len(batch_s),
            "index_batches_s": batch_s,
            "index_batch_tail": tail and {"p": tail[0], "s": tail[1]},
            "index_files": index_files,
            "build_index_s": build_index_s,
            "check_s": check_s,
        },
        "gen": gen_values,
    }
    if ctx.tracer.enabled:
        out["per_op"], out["layer"] = _layer(ctx, cur, arr, index_files)
    return out


def _layer(ctx, cur: dict, arr: dict, index_files: int) -> tuple[list, dict]:
    """Per curation phase: plans.* and spark.*; for the timed arrival
    batches: streaming.*, llm.ingest_with_dedup and DimStore numbers."""
    t0 = time.perf_counter()
    tr = ctx.tracer
    per_op = [ctx.op_numbers(op, cur["times"][op]) for op in CURATION_OPS]
    layer = streamstats.progress_numbers(arr["progress"])
    for op, nums in zip(CURATION_OPS, per_op):
        layer[f"llm.{op}_s"] = tr.total(f"llm.{op}")
        layer[f"llm.{op}.jobs"] = nums["spark.jobs"]
    stream_jobs = ctx.jobs.jobs(arr["run_id"])
    ingests = tr.named("llm.ingest_with_dedup")[1:]  # the first is the warm-up batch
    in_stream = lambda s: any(i["start"] <= s["start"] <= i["end"] for i in ingests)  # noqa: E731
    upserts = [s for s in tr.named("sources.dim_store.upsert") if in_stream(s)]
    reads = [s for s in tr.named("sources.dim_store.read") if in_stream(s)]

    def mean_s(spans: list) -> float:
        return sum(s["end"] - s["start"] for s in spans) / max(len(spans), 1)

    layer["llm.ingest_with_dedup_s"] = mean_s(ingests)
    layer["llm.ingest_with_dedup.jobs"] = jobs_within(stream_jobs, ingests) / max(len(ingests), 1)
    layer["sources.dim_store.upsert_s"] = mean_s(upserts)
    layer["sources.dim_store.upsert_jobs"] = jobs_within(stream_jobs, upserts) / max(len(upserts), 1)
    layer["sources.dim_store.read_s"] = mean_s(reads)
    layer["sources.dim_store.files"] = index_files
    tr.overhead_s += time.perf_counter() - t0
    return per_op, layer

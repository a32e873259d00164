"""``serving_queries``: a closed loop with one client over the 16 warehouse
registry entries of the reference's own layers (DWD/DWM/DWS/ADS).

Each query is the registry callable followed by a full-column ``noop``
write, so column pruning cannot skip work. A pass runs every entry once in
a seeded order; the loop runs whole passes until ``--seconds`` have gone
by. The warm-up pass before it collects every entry; after the timed
loop, each entry's rows are hash-compared with its DuckDB oracle on the
same generated tables.
"""

from __future__ import annotations

import os
import time

import numpy as np

import gen
import oracle
from gmall_flink_2022_spark import plans
from stats import gmean, median, tail_percentile


def warehouse_entries() -> list:
    """The warehouse module's entries minus its 8 TPC-H shapes: with all 24,
    the cold check pass and a timed pass made a run too long for the
    benchmark's time budget."""
    return [q for q in plans.REGISTRY.values()
            if q.fn.__module__.endswith(".warehouse") and not q.name.startswith("tpch_")]


def warm_up(ctx, data_dir: str, entries: list) -> dict:
    """Before the timed loop (set-up): run every entry once and collect its
    rows (JIT, codegen and Python worker start-up happen here). Returns
    entry name -> rows, or None for an entry that raised."""
    got = {}
    for q in entries:
        with ctx.op(f"check:{q.name}"):
            try:
                got[q.name] = q.fn(ctx.spark, data_dir).toPandas()
            except Exception as e:  # noqa: BLE001 - a failing entry is a counted failure
                ctx.note(f"{q.name}: {type(e).__name__}: {e}")
                got[q.name] = None
        ctx.release()
    return got


def check(ctx, data_dir: str, entries: list, got: dict) -> None:
    """Compare each entry's warm-up rows with its DuckDB oracle."""
    con = oracle.connect(data_dir)
    try:
        for q in entries:
            want = oracle.rows_hash(con.execute(q.oracle).fetchdf())
            rows = got[q.name]
            ctx.check(q.name, rows is not None and oracle.rows_hash(rows) == want)
    finally:
        con.close()


def timed(ctx, data_dir: str, entries: list) -> dict:
    rng = np.random.default_rng([ctx.seed, 4])
    lat: list[float] = []
    passes: list[float] = []
    per_op: list[dict] = []
    t_end = time.perf_counter() + ctx.seconds
    n = 0
    while time.perf_counter() < t_end or not passes:
        pass_s = 0.0
        for i in rng.permutation(len(entries)):
            q = entries[i]
            op = f"q{n}:{q.name}"
            n += 1
            ctx.attempted += 1
            with ctx.op(op):
                t0 = time.perf_counter()
                try:
                    with ctx.tracer.span("bench.query", op):
                        with ctx.tracer.span("plans.build"):
                            df = q.fn(ctx.spark, data_dir)
                        if ctx.tracer.enabled:
                            with ctx.tracer.span("spark.plan"):
                                df._jdf.queryExecution().executedPlan()
                        with ctx.tracer.span("spark.action"):
                            df.write.format("noop").mode("overwrite").save()
                    dt_s = time.perf_counter() - t0
                except Exception as e:  # noqa: BLE001 - a failing query is a counted failure
                    ctx.failed += 1
                    ctx.note(f"{op}: {type(e).__name__}: {e}")
                    dt_s = None
            if dt_s is not None:
                lat.append(dt_s)
                pass_s += dt_s
                if ctx.tracer.enabled:
                    per_op.append(ctx.op_numbers(op, dt_s))
            ctx.release()
        passes.append(pass_s)
    tail = tail_percentile(lat)
    return {
        "e2e": {"op_gmean_s": gmean(lat), "batch_s": median(passes)},
        "report": {
            "query_p50_s": median(lat),
            "query_samples": len(lat),
            "query_tail": tail and {"p": tail[0], "s": tail[1]},
            "pass_s": passes,
        },
        "per_op": per_op,
    }


def prepare(ctx) -> dict:
    """Before the session starts: generate the tables."""
    data_dir = os.path.join(ctx.work, "tables")
    gen_values = ctx.generate(lambda d: gen.serving_inputs(d, ctx.seed), data_dir)
    return {"data": data_dir, "gen": gen_values}


def run(ctx, inputs: dict) -> dict:
    data_dir, entries = inputs["data"], warehouse_entries()
    with ctx.setup_phase("warm_up"):
        got = warm_up(ctx, data_dir, entries)
    out = timed(ctx, data_dir, entries)
    check(ctx, data_dir, entries, got)
    out["gen"] = inputs["gen"]
    return out

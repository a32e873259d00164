"""Tests of the benchmark itself: seeded inputs and its arithmetic.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import pytest

import gen
from run import END_TO_END, PER_LAYER, WORKLOADS, _dir_digest
from spans import Tracer, summarize_jobs
from stats import (
    clipped_union,
    files_lagging,
    freshness,
    gmean,
    median,
    percentile,
    tail_percentile,
    union_length,
)

HERE = os.path.dirname(os.path.abspath(__file__))


@pytest.mark.parametrize(
    "make",
    [
        lambda d, s: gen.warehouse_tables(d, s, 0.001),
        lambda d, s: gen.curation_inputs(d, s),
        lambda d, s: gen.stream_inputs(d, s, seconds=2),
    ],
    ids=["warehouse", "curation", "stream"],
)
def test_same_seed_gives_byte_identical_inputs(tmp_path, make):
    a, b, c = (str(tmp_path / n) for n in "abc")
    va, vb, vc = make(a, 7), make(b, 7), make(c, 8)
    assert sorted(os.listdir(a)) == sorted(os.listdir(b))
    assert _dir_digest(a) == _dir_digest(b)
    assert va == vb
    assert _dir_digest(a) != _dir_digest(c)


def test_stream_late_events_stay_inside_the_watermark(tmp_path):
    import pyarrow.parquet as pq

    values = gen.stream_inputs(str(tmp_path), 3, seconds=5)
    assert 0.04 < values["gen.late_share"] < 0.16
    hour = 3600 * 10**6
    newest = None
    late = 0
    for f in sorted(os.listdir(tmp_path)):
        ts = pq.read_table(tmp_path / f).column("ts").cast("int64").to_pylist()
        if newest is not None:
            assert min(ts) >= newest - newest % hour
            late += sum(t < newest for t in ts)
        newest = max([newest or 0, *ts])
    assert late > 0  # out-of-order events are really there


def test_curation_inputs_plant_duplicates_with_unique_texts(tmp_path):
    import pyarrow.parquet as pq

    values = gen.curation_inputs(str(tmp_path), 5)
    docs = pq.read_table(tmp_path / "documents.parquet").column("text").to_pylist()
    assert len(set(docs)) == len(docs) == gen.CURATION_DOCS
    assert 0.04 < values["gen.dup_rate"] < 0.2
    for k in range(gen.ARRIVAL_BATCHES_MAX):
        texts = pq.read_table(tmp_path / f"arrivals_{k}.parquet").column("text").to_pylist()
        assert len(set(texts)) == len(texts) == gen.ARRIVAL_DOCS


def test_percentiles_use_nearest_rank():
    v = [float(i) for i in range(1, 11)]
    assert percentile(v, 50) == 5.0
    assert percentile(v, 90) == 9.0
    assert percentile(v, 100) == 10.0
    assert percentile([3.0], 99) == 3.0
    assert median([4.0, 1.0, 3.0, 2.0]) == 2.5
    assert median([2.0, 9.0, 1.0]) == 2.0
    with pytest.raises(ValueError):
        percentile([], 50)


def test_geometric_mean():
    assert gmean([2.0, 8.0]) == pytest.approx(4.0)
    assert gmean([0.5]) == pytest.approx(0.5)
    assert gmean([1.0, 10.0, 100.0]) == pytest.approx(10.0)
    with pytest.raises(ValueError):
        gmean([])


def test_tail_percentile_needs_ten_samples_beyond():
    assert tail_percentile([1.0] * 19) is None  # p50 = rank 10, only 9 beyond
    assert tail_percentile([float(i) for i in range(20)]) == (50, 9.0)
    assert tail_percentile([float(i) for i in range(100)]) == (90, 89.0)
    assert tail_percentile([float(i) for i in range(1000)]) == (99, 989.0)
    p, _ = tail_percentile([float(i) for i in range(10_000)])
    assert p == 99.9


def test_interval_unions():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 10), (2, 3)]) == 10
    assert union_length([]) == 0
    assert clipped_union([(0, 2), (4, 8)], 1, 5) == 2


def test_freshness_is_the_slowest_query_commit_after_due_time():
    due = {"a": 10.0, "b": 11.0, "c": 12.0}
    q1 = {"a": 10.5, "b": 12.0, "c": 12.2}
    q2 = {"a": 11.0, "b": 11.5}  # never committed c
    assert freshness(due, [q1, q2]) == {"a": 1.0, "b": 1.0}


def test_files_lagging_counts_landed_not_committed():
    landed = {"a": 0.0, "b": 1.0, "c": 2.0}
    committed = {"a": 1.5, "b": 1.5, "c": 2.5}
    # at 0.0: a; at 1.0: a, b; at 2.0: c
    assert files_lagging(landed, committed) == pytest.approx((1 + 2 + 1) / 3)


def test_self_time_subtracts_children():
    tr = Tracer(enabled=True)
    tr.spans = [
        {"id": 1, "name": "bench.query", "start": 0.0, "end": 10.0, "parent": None, "op": "q"},
        {"id": 2, "name": "plans.build", "start": 1.0, "end": 3.0, "parent": 1, "op": "q"},
        {"id": 3, "name": "spark.action", "start": 2.0, "end": 9.0, "parent": 1, "op": "q"},
    ]
    st = tr.self_times()
    assert st == {"bench": 2.0, "plans": 2.0, "spark": 7.0}


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("plans.build", "q"):
        pass
    assert tr.spans == []


def test_driver_gap_is_wall_outside_jobs():
    jobs = [
        {"start": 0.0, "end": 1.0, "stages": 2, "tasks": 8, "failed_tasks": 0,
         "executor_run_s": 3.0, "executor_cpu_s": 2.0, "shuffle_read_mb": 1.0,
         "shuffle_write_mb": 1.0, "spill_mb": 0.0},
        {"start": 0.5, "end": 2.0, "stages": 1, "tasks": 4, "failed_tasks": 1,
         "executor_run_s": 1.0, "executor_cpu_s": 1.0, "shuffle_read_mb": 0.0,
         "shuffle_write_mb": 0.0, "spill_mb": 0.5},
    ]
    s = summarize_jobs(jobs, wall_s=5.0)
    assert s["spark.jobs"] == 2 and s["spark.stages"] == 3 and s["spark.tasks"] == 12
    assert s["spark.job_busy_s"] == 2.0 and s["spark.driver_gap_s"] == 3.0
    assert s["spark.failed_tasks"] == 1 and s["spark.spill_mb"] == 0.5


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench")
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "serving_queries",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert p.stdout == ""


def test_benchmark_json_matches_the_metrics_printed():
    import json

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)

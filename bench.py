#!/usr/bin/env python
"""Bench harness: runs the headline query set at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Timing = full query execution to a count() sink (forces every stage; no
driver-side collect of wide results). A warmup pass on sf0.001 JIT-warms
the JVM so numbers reflect steady state. Each query runs
$SPARK_GRAFT_BENCH_REPS times (default 3) and reports the PER-QUERY
MEDIAN — single-shot numbers on this host swing ±40% run-to-run
(BASELINE.md), which makes one-sample regressions unactionable; "value"
is the sum of medians.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from gmall_flink_2022_spark import plans  # noqa: E402
from gmall_flink_2022_spark.llm import cachereg  # noqa: E402
from gmall_flink_2022_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    spark = get_spark("gmall_bench")

    bench_queries = {n: q for n, q in plans.REGISTRY.items() if q.bench}

    # warmup at the smallest sf (JIT, codegen caches, parquet footer reads)
    for q in bench_queries.values():
        try:
            q.fn(spark, "/root/testdata/sf0.001").count()
        except Exception:
            pass
        spark.catalog.clearCache()
        cachereg.release_all()

    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    timings: dict[str, float] = {}
    for name, q in bench_queries.items():
        samples = []
        for _ in range(reps):
            t0 = time.perf_counter()
            q.fn(spark, sf_dir).count()
            samples.append(time.perf_counter() - t0)
        timings[name] = round(statistics.median(samples), 3)
        # queries persist() and stage() their own intermediates; drop
        # them BETWEEN queries (not between reps — the median stays a
        # warm-cache number, comparable across rounds) so the suite's
        # memory footprint is one query's caches and checkpoint blocks,
        # not the whole set's
        spark.catalog.clearCache()
        cachereg.release_all()

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_query_set_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()

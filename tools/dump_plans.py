#!/usr/bin/env python
"""Dump `.explain("formatted")` for named registry entries to files —
the r16 optimization round's plan-evidence harness:

    python tools/dump_plans.py plans/r16 before entry1 entry2 ...

writes plans/r16/<entry>_before.txt per entry. Streaming-tagged entries
are skipped (building their DataFrame RUNS the job). Building an entry
that stages phases (``cachereg.stage``: the curation pipelines) runs
those phases, and the dumped plan reads them as checkpoint leaves. Uses
the same session shape as bench.py so the plans match what the bench
executes.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gmall_flink_2022_spark import plans  # noqa: E402
from gmall_flink_2022_spark.session import get_spark  # noqa: E402


def main(out_dir: str, suffix: str, names: list[str]) -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("gmall_dump_plans")
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        q = plans.REGISTRY[name]
        if "streaming" in q.tags:
            print(f"{name}: SKIP (streaming)")
            continue
        df = q.fn(spark, sf_dir)
        p = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(p)
        print(f"{name}: wrote {path} ({len(p.splitlines())} lines)")
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2], sys.argv[3:])

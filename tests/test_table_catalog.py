"""The declared table catalog (``schemas.TABLE_SCHEMAS``): it matches the
files, reading through it runs no schema-inference job, and the package
zip shipped on the first read does not outlive its process."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pytest

from gmall_flink_2022_spark import plans
from gmall_flink_2022_spark.schemas import TABLE_SCHEMAS
from gmall_flink_2022_spark.sources.io import TABLES, read_stream_table

from .oracle_util import jobs_run_by

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _fields(schema) -> list[str]:
    """Names, order and types; nullability is left out (a file source
    reports every column nullable whatever it was declared)."""
    return [f"{f.name}:{f.dataType.simpleString()}" for f in schema]


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_table_catalog_matches_files(spark, sf_dir, sf):
    """A declared type that disagrees with the file can read without an
    error and still return wrong values (``ts bigint`` over a
    TIMESTAMP(MICROS) column returns raw microseconds), so every declared
    schema is compared with the one Spark infers from the file."""
    sf_dir = os.path.join(os.path.dirname(sf_dir), sf)  # beside the suite's own sf dir
    if not os.path.isdir(sf_dir):
        pytest.skip(f"{sf_dir} does not exist on this host")
    assert TABLES == list(TABLE_SCHEMAS)
    for name, declared in TABLE_SCHEMAS.items():
        inferred = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet")).schema
        assert _fields(declared) == _fields(inferred), (sf, name)


def test_builds_run_no_job(spark, sf_dir):
    """Building a serving query (the warehouse entries minus the TPC-H
    shapes) and opening a table stream run no Spark job."""
    serving = [
        q for q in plans.REGISTRY.values()
        if q.fn.__module__.endswith(".warehouse") and not q.name.startswith("tpch_")
    ]
    assert len(serving) == 16
    built = {q.name: jobs_run_by(spark, lambda q=q: q.fn(spark, sf_dir)) for q in serving}
    assert built == dict.fromkeys(built, 0)
    opened = {
        t: jobs_run_by(spark, lambda t=t: read_stream_table(spark, sf_dir, t))
        for t in TABLES
    }
    assert opened == dict.fromkeys(TABLES, 0)


def test_shipped_package_zip_removed_at_exit(tmp_path, sf_dir):
    """The zip ``read_table`` ships to workers stays while the session runs
    and is gone once the process that made it exits."""
    script = textwrap.dedent(
        f"""
        import glob, os, sys, tempfile
        sys.path.insert(0, {REPO!r})
        from pyspark.sql import SparkSession
        from gmall_flink_2022_spark.sources.io import read_table
        spark = (SparkSession.builder.master("local[1]")
                 .config("spark.ui.enabled", "false")
                 .config("spark.driver.memory", "512m").getOrCreate())
        read_table(spark, {sf_dir!r}, "region").collect()
        assert glob.glob(os.path.join(tempfile.gettempdir(), "gmall_pkg_*"))
        spark.stop()
        """
    )
    env = dict(os.environ, TMPDIR=str(tmp_path))
    subprocess.run([sys.executable, "-c", script], env=env, check=True, timeout=120)
    assert not list(tmp_path.glob("gmall_pkg_*"))


def test_local_frames_run_no_job(spark, sf_dir):
    """Driver-built literal tables are JVM local relations: collecting
    one runs no Spark job, an empty one included, where a Python-list
    ``createDataFrame`` ran a Python-worker job on every action. Covers
    the helper, the merge table ``bpe_train`` returns, the PSL rules
    frame and the route config table of ``dwd_db_route``."""
    from gmall_flink_2022_spark.llm import bpe, psl
    from gmall_flink_2022_spark.sources.io import local_frame

    ddl = "step long, left_sym string"
    frames = {
        "rows": local_frame(spark, [(1, "a"), (2, "b")], ddl),
        "empty": local_frame(spark, [], ddl),
        "bpe_train": bpe.bpe_train(
            local_frame(spark, [("low lower lowest",)], "text string"), n_merges=2
        ),
        "psl_rules": psl.psl_rules_df(spark),
    }
    assert _fields(frames["empty"].schema) == ["step:bigint", "left_sym:string"]
    rows = {}
    jobs = {
        k: jobs_run_by(spark, lambda k=k: rows.update({k: frames[k].collect()}))
        for k in frames
    }
    assert jobs == dict.fromkeys(frames, 0)
    assert rows["rows"] == [(1, "a"), (2, "b")] and rows["empty"] == []
    assert len(rows["bpe_train"]) == 2
    assert sorted(map(tuple, rows["psl_rules"])) == sorted(psl.PSL_RULES)
    route = plans.REGISTRY["dwd_db_route"].fn(spark, sf_dir)
    leaves = route._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in leaves and "LogicalRDD" not in leaves

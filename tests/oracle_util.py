"""Exact Spark-vs-DuckDB comparison used by the parity tests — a local
mirror of the driver's correctness gate (row count + schema shape +
order-insensitive exact value comparison) — and ``jobs_run_by``, the
Spark job counter that tests pin job budgets with."""

from __future__ import annotations

import datetime as dt
import decimal
import math
import uuid

import duckdb
import pandas as pd

from gmall_flink_2022_spark.sources.io import TABLES


# Bound the oracle's appetite (r11): an oracle whose intermediate
# explodes at a big scale factor must FAIL ITS OWN TEST, not fill the
# disk and take the Spark JVM down with it — at sf0.1 the pagerank
# oracle's unrolled pair-graph SQL needed >80 GB of DuckDB temp and
# crashed the whole sweep (the Spark side runs it in 4 s). Limits are
# far above anything a healthy sf0.01/sf0.1 oracle uses. ONE list,
# shared with tools/driver_sim.py so the two harnesses cannot drift
# (r11 ADVICE).
DUCKDB_LIMITS = (
    "SET memory_limit='24GB'",
    "SET max_temp_directory_size='30GB'",
)


def apply_duckdb_limits(con: duckdb.DuckDBPyConnection) -> None:
    for stmt in DUCKDB_LIMITS:
        con.execute(stmt)


def duckdb_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    apply_duckdb_limits(con)
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def _canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def canonical_rows(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    rows = [tuple(_canon(v) for v in row) for row in df[cols].itertuples(index=False)]
    return sorted(rows)


def _norm_dtype(dt) -> str:
    s = str(dt)
    if s.startswith("datetime64"):
        return "datetime64"
    return s


def compare(spark_df, sql: str, con: duckdb.DuckDBPyConnection) -> None:
    got = spark_df.toPandas()
    want = con.execute(sql).fetchdf()
    assert sorted(got.columns) == sorted(want.columns), (
        f"column mismatch: spark={sorted(got.columns)} duckdb={sorted(want.columns)}"
    )
    # dtype parity: int-width / float-vs-decimal drift would break a
    # driver-side hash even when stringified values agree
    dt_mism = {
        c: (str(got[c].dtype), str(want[c].dtype))
        for c in got.columns
        if _norm_dtype(got[c].dtype) != _norm_dtype(want[c].dtype)
    }
    assert not dt_mism, f"dtype mismatch: {dt_mism}"
    assert len(got) == len(want), f"row count: spark={len(got)} duckdb={len(want)}"
    g, w = canonical_rows(got), canonical_rows(want)
    mism = [(a, b) for a, b in zip(g, w) if a != b]
    assert not mism, f"value mismatch ({len(mism)} rows), first: {mism[0]}"


def jobs_run_by(spark, fn) -> int:
    """Run ``fn`` under a fresh job group and count that group's jobs in
    the driver's status store (populated with the UI off)."""
    sc = spark.sparkContext
    group = f"jobs_run_by_{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jobs = jsc.statusStore().jobsList(None)
    groups = (jobs.apply(i).jobGroup() for i in range(jobs.size()))
    return sum(1 for g in groups if g.isDefined() and g.get() == group)

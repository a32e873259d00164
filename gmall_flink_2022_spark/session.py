"""SparkSession factory with pinned configs.

Design notes (100 TB posture, tested on local[N]):
- AQE on: runtime partition coalescing, skew-join splitting, and
  dynamic join-strategy switching replace the reference's hand-pinned
  parallelism (reference pins every job to parallelism 1, e.g.
  gmall-realtime/.../ods/FlinkCDC.java:14 — we let Spark scale out).
- ``spark.sql.shuffle.partitions`` is pinned to 32 for batch queries
  (AQE coalesces the small ones at runtime); on a real cluster this is
  overridden (or left to AQE's ``coalescePartitions.initialPartitionNum``).
  Streaming queries start with ``DEFAULT_STATE_PARTITIONS`` instead
  (``streaming/runner.py``).
- Session timezone pinned to UTC so ``date_format``/``unix_timestamp``
  results are bit-identical to the DuckDB oracle on naive parquet
  timestamps. (The reference hardcodes +8 in DateTimeUtil.java:19; our
  engine treats the zone as a session config, which is the Spark-native
  equivalent.)
- Arrow enabled: every pandas_udf / applyInPandas crosses the
  JVM<->Python boundary in columnar batches.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # testdata parquet writes naive timestamps (isAdjustedToUTC=false);
    # Spark 4 would infer TIMESTAMP_NTZ, which withWatermark rejects and
    # which diverges from the UTC-pinned LTZ arithmetic the oracles use.
    # Read them as session-tz timestamps instead (identical wall-clock
    # values under the UTC pin above).
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.compression.codec": "zstd",
    # streaming defaults
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    ),
    "spark.sql.shuffle.partitions": "32",
    "spark.ui.enabled": "false",
}


def get_spark(app_name: str = "gmall_spark", **overrides: str) -> SparkSession:
    """Build (or fetch) the session. ``SPARK_GRAFT_CPUS`` controls local
    parallelism; extra overrides win over defaults."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.master(f"local[{cpus}]").appName(app_name)
    conf = dict(_DEFAULTS)
    # local-mode driver == the one executor: the 1g JVM default starves
    # 32 threads (broadcast builds OOM ~sf1). Only effective at JVM
    # launch — a pre-existing session keeps its heap.
    conf["spark.driver.memory"] = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
    conf.update(overrides)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

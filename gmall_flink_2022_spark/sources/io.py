"""Source/sink abstraction.

The reference wires every layer through Kafka topics
(gmall-realtime/.../utils/MyKafkaUtil.java:18-58). Here the message bus is a
pluggable format: tests use parquet dirs / memory sinks, production uses
Kafka — same transformation code either way (Structured Streaming's
batch/stream parity).

Scale note: ``read_table`` and ``read_stream_table`` read with the
table's declared schema from ``schemas.TABLE_SCHEMAS``, so building a
scan runs no schema-inference job; Catalyst still pushes
filters/projections into the scan (check ``PushedFilters`` in
``.explain``). No caching/collecting happens here.

Replay order: the reference's layers read ordered Kafka topics; the
stand-in is the parquet file source, which replays files in mtime order
and breaks mtime ties arbitrarily. ``file_batches`` is the one place
that stages frames as a stream: it lands each frame as one file, stamps
the files with strictly increasing mtimes, and reads them back one file
per micro-batch, so the replay order is the landing order on any clock.
"""

from __future__ import annotations

import glob
import os
import time
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, types as T

from ..schemas import TABLE_SCHEMAS

TABLES = list(TABLE_SCHEMAS)


def _path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


_SHIPPED: set[int] = set()


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on Python WORKERS. Stateful pandas
    operators (applyInPandasWithState fns) pickle by module reference; a
    driver that merely sys.path-inserted the repo leaves workers unable to
    import the module. Shipping a zip via addPyFile puts the package on
    every worker's path regardless of the driver's cwd/env. Workers fetch
    the zip from the driver while the session runs, so it is removed only
    when this process exits."""
    sc = spark.sparkContext
    if id(sc) in _SHIPPED:
        return
    import atexit
    import pathlib
    import tempfile
    import zipfile

    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    parent = os.path.dirname(pkg_root)
    zpath = os.path.join(
        tempfile.gettempdir(), f"gmall_pkg_{os.getpid()}_{id(sc)}.zip"
    )
    if not os.path.exists(zpath):
        with zipfile.ZipFile(zpath, "w") as z:
            for dirpath, _dirs, files in os.walk(pkg_root):
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(dirpath, f)
                        z.write(full, os.path.relpath(full, parent))
        atexit.register(pathlib.Path(zpath).unlink, missing_ok=True)
    sc.addPyFile(zpath)
    _SHIPPED.add(id(sc))


def _pin_session_confs(spark: SparkSession) -> None:
    """Runtime-settable confs every query depends on, applied defensively
    because the driver harness builds its own session: UTC so
    date_format/unix_timestamp match the DuckDB oracle on naive
    timestamps; inferTimestampNTZ disabled so a naive parquet timestamp
    that is inferred rather than declared still loads as session-tz
    TIMESTAMP (watermark-compatible, oracle-matching);
    package shipped to workers for the stateful pandas operators."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # naive parquet timestamps must load as (UTC) TIMESTAMP, not
    # TIMESTAMP_NTZ: watermarks reject NTZ and the oracles assume the
    # session-tz type. Runtime-settable, so pinning here also covers a
    # driver-built session.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    _ship_package(spark)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Batch read of one driver-testdata table, with its declared schema."""
    _pin_session_confs(spark)
    return spark.read.schema(TABLE_SCHEMAS[name]).parquet(_path(sf_dir, name))


def read_stream_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Streaming read of the same table, with the same declared schema
    (file source, used with availableNow triggers in tests; swap for
    format('kafka') in prod)."""
    _pin_session_confs(spark)
    # the file stream source lists a DIRECTORY; select just this table's
    # file with a glob filter
    return (
        spark.readStream.schema(TABLE_SCHEMAS[name])
        .format("parquet")
        .option("pathGlobFilter", f"{name}.parquet")
        .load(sf_dir)
    )


def local_frame(
    spark: SparkSession, rows: Sequence[Sequence], ddl: str | T.StructType
) -> DataFrame:
    """A driver-built literal table (a config table, a trained artifact,
    a sentinel row, an empty result) as a JVM ``LocalRelation``: actions
    on it run no Spark job. ``ddl`` is a DDL string or a ``StructType``.
    Built from an Arrow table, which needs no Arrow session conf and
    keeps an empty ``rows`` typed; ``spark.createDataFrame(<list>)``
    instead makes a Python-RDD ``LogicalRDD``, and every action on it
    runs a Python-worker job."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = ddl if isinstance(ddl, T.StructType) else T.StructType.fromDDL(ddl)
    table = pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], schema=to_arrow_schema(schema)
    )
    return spark.createDataFrame(table, schema)


def file_batches(frames: Sequence[DataFrame], in_dir: str) -> DataFrame:
    """Replay ``frames`` as a stream: one micro-batch per frame, in list
    order. Each frame is appended under ``in_dir`` as one ``coalesce(1)``
    parquet file, and the new files get mtimes 1 s apart that start
    after the newest file already there, so a second call on the same
    directory (after a restart, say) replays after the first call's
    files. The file source orders by mtime and breaks ties arbitrarily;
    whole seconds survive a filesystem that keeps no finer stamps. Never
    sleeps.

    ``in_dir`` must be a local path: ``os.utime`` does not reach object
    stores, whose mtime is the upload time."""
    files = os.path.join(in_dir, "*.parquet")
    old = set(glob.glob(files))
    newest = max(map(os.path.getmtime, old), default=time.time() - len(frames))
    for i, frame in enumerate(frames, 1):
        frame.coalesce(1).write.parquet(in_dir, mode="append")
        new = set(glob.glob(files)) - old
        stamp = int(newest) + i
        for f in new:
            os.utime(f, (stamp, stamp))
        old |= new
    return (
        frames[0].sparkSession.readStream.schema(frames[0].schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )


def scratch_dir(prefix: str) -> str:
    """Staging directory for DISTRIBUTED writes (executors write here,
    the driver reads back). Defaults to a driver-local tempdir — correct
    in local mode only; on a multi-node cluster set ``SPARK_GRAFT_SCRATCH``
    to a shared-filesystem / object-store URI so executors and driver see
    the same paths (r9 ADVICE: a bare mkdtemp path silently scatters
    executor output across node-local disks). Cleanup of env-configured
    scratch is the deployment's lifecycle policy (TTL'd bucket/dir);
    local tempdirs are removed by the callers' finally blocks."""
    import tempfile
    import uuid

    root = os.environ.get("SPARK_GRAFT_SCRATCH")
    if root:
        path = os.path.join(root, f"{prefix}{uuid.uuid4().hex}")
        os.makedirs(path, exist_ok=True)
        return path
    return tempfile.mkdtemp(prefix=prefix)


def write_sink(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Batch parquet sink (the test-mode stand-in for the reference's
    ClickHouse JDBC batch sink, utils/ClickHouseUtil.java:17-57)."""
    df.write.mode(mode).parquet(path)

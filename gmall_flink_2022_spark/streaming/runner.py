"""Streaming execution: the one place that starts a query and waits for it.

The reference wires layers through Kafka and runs each as a forever-job;
our tests (and the driver's batch-shaped correctness gate) run the same
streaming plans to completion with ``availableNow`` triggers — identical
code path to production (real source, real trigger, real state stores),
different endpoints. Every streaming entry goes through
``run_available_now``; only its sink differs (memory table, a
``foreachBatch`` store, or a parquet hop). It returns the finished
``StreamingQuery``, whose ``recentProgress`` holds the per-batch
metrics (rows, watermark, state rows, ``numRowsDroppedByWatermark``).
Staged inputs replay in the order ``sources.io.file_batches`` landed
them, one file per micro-batch. Multi-sink fan-out (SURVEY
§7.3 #3) = one query per sink over the shared source; with Kafka/files
the replay is free, no persist() needed.

State partitioning: a stateful streaming query materializes ONE state
store instance per shuffle partition, each committing a delta file to
the checkpoint every micro-batch — so the partition count must be sized
to STATE VOLUME, not inherited from the batch-oriented session default.
At bench SFs the keyed state is a few MB: 32 partitions means 32 ×
(stores + commit files) per stateful operator per batch, and the commit
overhead dominates wall time ~3×. In production with 10^8+ keys you
raise it (it is fixed at the query's FIRST start and persisted in the
checkpoint — choose for peak state, it cannot change across restarts
without a new checkpoint).

``start()`` clones the caller's session for the query and returns once
the query runs, so the clone's ``spark.sql.shuffle.partitions`` is
captured there. The runner sets ``DEFAULT_STATE_PARTITIONS`` around
``start()`` only and restores the session value before waiting: while
the query runs, the caller's session (and any ``foreachBatch`` code
that plans on it) sees its own setting.
"""

from __future__ import annotations

import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

#: Local-mode default sized for bench/driver SFs (state ≪ 1 GB). A real
#: deployment passes an explicit value sized to keys × state row width.
DEFAULT_STATE_PARTITIONS = 8

_SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"


def run_available_now(
    sdf: DataFrame,
    sink: Callable[[DataStreamWriter], DataStreamWriter],
    checkpoint: str | None = None,
) -> StreamingQuery:
    """Run a streaming DataFrame to completion under an availableNow
    trigger and return the finished query (read ``recentProgress`` for
    its micro-batches). ``sink`` maps ``sdf.writeStream`` to a configured
    writer (format / output mode / ``foreachBatch`` / path). Without a
    ``checkpoint`` the runner makes a temporary one and removes it
    afterwards; a checkpoint the caller passes is kept, so running again
    with it restarts the query where it stopped."""
    spark = sdf.sparkSession
    ckpt = checkpoint or tempfile.mkdtemp(prefix="gmall_ckpt_")
    try:
        writer = (
            sink(sdf.writeStream)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
        )
        prev = spark.conf.get(_SHUFFLE_PARTITIONS)
        spark.conf.set(_SHUFFLE_PARTITIONS, str(DEFAULT_STATE_PARTITIONS))
        try:
            query = writer.start()
        finally:
            spark.conf.set(_SHUFFLE_PARTITIONS, prev)
        query.awaitTermination()
        return query
    finally:
        if checkpoint is None:
            shutil.rmtree(ckpt, ignore_errors=True)


def run_stream_to_table(
    sdf: DataFrame,
    name: str,
    output_mode: str = "append",
    checkpoint: str | None = None,
) -> DataFrame:
    """Run a streaming DataFrame to completion into a memory sink and
    return the result as a batch DataFrame. The sink's temp view is
    dropped again; the returned frame keeps the rows."""
    run_available_now(
        sdf,
        lambda w: w.format("memory").queryName(name).outputMode(output_mode),
        checkpoint,
    )
    spark = sdf.sparkSession
    out = spark.table(name)
    spark.catalog.dropTempView(name)
    return out

"""Dimension store: upsert sink + DDL-on-demand (SURVEY §2.1 S7/S8).

Reference: function/DimSinkFunction.java:29-66 upserts each routed dim row
into Phoenix (`upsert into GMALL_REALTIME.<t>(cols) values(...)`), creating
the table on demand from the routing config with every column varchar
(function/TableProcessFunction.java:83-131), and invalidates the Redis
cache on update (DimSinkFunction.java:36-38).

Spark-native rendering: each dim table is a parquet (Delta/Iceberg on a
real lakehouse) directory hash-bucketed on the configured pk
(`__bucket=N/` partition dirs) with its schema in `_schema.json` beside
them, so reading a table runs no schema-inference job. A micro-batch of
CDC rows is deduped and colocated by bucket in ONE shuffle and STAGED to
parquet with a single action (one materialization of the streaming
plan), one file per touched bucket. Then a pk-only broadcast semi-join
over the touched buckets decides the commit: brand-new keys are an
INSERT — the staged files move into their bucket dirs beside the files
already there, and no bucket is rewritten; a batch that updates a key
is a MERGE — a PARTITION-PRUNED read -> anti-join -> union, written one
file per bucket to a sibling dir whose bucket dirs are swapped into
place. The first write of a table is just a rename of the staged dir
(the `foreachBatch MERGE INTO` pattern; with Delta available this is a
real MERGE with file-level pruning — the call-site API stays identical).
Cache invalidation disappears by construction: downstream broadcast
joins re-read the dim per micro-batch.

Scale note: per-batch work is O(dim_size * touched_buckets / n_buckets),
not O(dim size) — a point update to one key rewrites one bucket, and an
insert reads only the touched buckets' pk column, in one probe task.
Inserts add a file per touched bucket until a touched bucket holds
``MAX_FILES_PER_BUCKET`` files; that batch takes the merge path, which
leaves one file per touched bucket, so a long-lived table's file count
stays bounded and no caller picks a compaction cadence (the reference's
Phoenix/HBase store compacts itself too). Size n_buckets so a bucket
fits comfortably in one task (reference dims — user/province/sku/spu/
trademark/category — are small; for a 10^9-row user dim at 100 TB
raise n_buckets accordingly).
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F, types as T

#: the table's schema, written beside its bucket dirs on every commit
SCHEMA_FILE = "_schema.json"
#: an upsert that touches a bucket already holding this many data files
#: rewrites its buckets one file each: a scan runs a task per small file,
#: traded against how often a bucket is rewritten
MAX_FILES_PER_BUCKET = 4


def _n_data_files(names) -> int:
    return sum(1 for f in names if f.endswith(".parquet") and not f.startswith("."))


class DimStore:
    """Directory-backed dim tables with bucketed upsert semantics.

    Crash atomicity (r7 ADVICE): every multi-bucket commit (upsert
    insert or merge, delete) is journaled — the fully-written
    source dir and the buckets it swaps, removes or adds files to are
    recorded in ``<table>.__journal`` (atomic write-then-rename) BEFORE
    the first bucket dir changes, and the journal is removed only after
    the last one. A crash mid-commit therefore leaves a journal that
    names exactly which buckets still need replacing/removing/filling,
    and every store entry point replays it first — no half-applied
    commit can resurrect, duplicate or drop rows invisibly. The store is
    single-writer per table (the reference's Phoenix upsert sink is a
    single Flink sink task per table too); concurrent writers would
    need a lock around stage+journal+swap.
    """

    def __init__(self, spark: SparkSession, root: str, n_buckets: int = 16):
        self.spark = spark
        self.root = root
        self.n_buckets = n_buckets

    def _path(self, table: str) -> str:
        return os.path.join(self.root, table)

    # ------------------------------------------------ journaled commits
    def _journal_path(self, table: str) -> str:
        return self._path(table) + ".__journal"

    def _apply_swaps(
        self, path: str, src_dir: str, swaps: Sequence[int], removes: Sequence[int]
    ) -> None:
        """Replay a journal body: replace each ``swaps`` bucket dir with
        its fully-written counterpart under ``src_dir``; remove each
        ``removes`` bucket dir (a delete that emptied the bucket). Both
        halves are idempotent — a src dir already swapped in is simply
        absent, an already-removed dst rmtree's to a no-op — so replay
        after a crash at ANY point converges to the committed state."""
        for b in swaps:
            src = os.path.join(src_dir, f"__bucket={b}")
            dst = os.path.join(path, f"__bucket={b}")
            if os.path.isdir(src):
                shutil.rmtree(dst, ignore_errors=True)
                os.replace(src, dst)
        for b in removes:
            shutil.rmtree(os.path.join(path, f"__bucket={b}"), ignore_errors=True)

    def _apply_adds(self, path: str, src_dir: str, adds: Sequence[int]) -> None:
        """Replay the insert half of a journal body: move every file of
        each ``adds`` bucket dir under ``src_dir`` into the table's
        bucket dir, beside the files already there. Spark names a
        written part file with its write job's UUID, so a moved name is
        unique in its bucket. Idempotent like the swaps: a file already
        moved is absent from ``src_dir``, so replay moves only the rest."""
        for b in adds:
            src = os.path.join(src_dir, f"__bucket={b}")
            if not os.path.isdir(src):
                continue
            dst = os.path.join(path, f"__bucket={b}")
            os.makedirs(dst, exist_ok=True)
            for name in os.listdir(src):
                os.replace(os.path.join(src, name), os.path.join(dst, name))

    def _write_schema(self, table_dir: str, schema: T.StructType) -> None:
        """Write ``<table>/_schema.json`` (atomic write-then-rename). Spark's
        file listing skips names starting with ``_`` or ``.``, so neither
        the file nor its temp is read as data."""
        tmp = os.path.join(table_dir, "." + SCHEMA_FILE + ".tmp")
        with open(tmp, "w") as f:
            f.write(schema.json())
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, os.path.join(table_dir, SCHEMA_FILE))

    def _commit(
        self,
        table: str,
        src_dir: str,
        schema: T.StructType,
        swaps: Sequence[int] = (),
        removes: Sequence[int] = (),
        adds: Sequence[int] = (),
    ) -> None:
        """Commit a fully-written ``src_dir``: write the table's schema
        file, journal (atomic write + rename), apply the swaps, removes
        and adds, then clear the journal and ``src_dir``. The journal
        existing == the commit is decided and MUST complete; its absence
        == the table is consistent. The schema file goes first: a commit
        only ever widens the schema, and old files read under a wider
        schema give NULL for the new columns."""
        path = self._path(table)
        self._write_schema(path, schema)
        journal = self._journal_path(table)
        tmp = journal + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {"src": os.path.basename(src_dir), "swaps": swaps,
                 "removes": removes, "adds": adds},
                f,
            )
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, journal)
        self._apply_swaps(path, src_dir, swaps, removes)
        self._apply_adds(path, src_dir, adds)
        os.remove(journal)
        shutil.rmtree(src_dir, ignore_errors=True)

    def _recover(self, table: str) -> None:
        """Replay a committed-but-interrupted commit (journal present).
        Runs at every entry point, so a crashed delete/upsert
        completes on the next touch instead of surfacing half-applied
        (resurrected, duplicated or missing) rows. If the completed
        replay leaves a table with no bucket dirs (a crash inside a
        delete-everything before its empty-schema guard ran), the table
        dir is dropped — the next upsert recreates it DDL-on-demand; the
        non-crash path instead leaves a readable empty table, both
        consistent states."""
        journal = self._journal_path(table)
        if not os.path.isfile(journal):
            return
        with open(journal) as f:
            j = json.load(f)
        path = self._path(table)
        src_dir = os.path.join(os.path.dirname(path), j["src"])
        self._apply_swaps(path, src_dir, j["swaps"], j.get("removes", []))
        self._apply_adds(path, src_dir, j.get("adds", []))
        os.remove(journal)
        shutil.rmtree(src_dir, ignore_errors=True)
        if os.path.isdir(path) and not any(
            e.startswith("__bucket=") for e in os.listdir(path)
        ):
            shutil.rmtree(path, ignore_errors=True)

    def exists(self, table: str) -> bool:
        self._recover(table)
        return os.path.isdir(self._path(table))

    def _scan(self, table: str) -> DataFrame:
        """The whole table, ``__bucket`` included, read with the schema in
        its ``_schema.json``: no schema-inference job. A table written
        before the schema file existed falls back to inference."""
        self._recover(table)
        path = self._path(table)
        try:
            with open(os.path.join(path, SCHEMA_FILE)) as f:
                schema = T.StructType.fromJson(json.load(f))
        except FileNotFoundError:
            return self.spark.read.parquet(path)
        return self.spark.read.schema(schema).parquet(path)

    def read(self, table: str) -> DataFrame:
        return self._scan(table).drop("__bucket")

    def upsert(self, table: str, batch: DataFrame, pk: str = "id") -> None:
        """Merge a batch of rows into the dim table keyed on ``pk``:
        last-writer-wins per key within the batch, batch beats store
        (the reference's Phoenix UPSERT semantics). Creates the table on
        first write — the S8 DDL-on-demand path.

        The batch is staged to parquet with ONE action (inside
        foreachBatch every extra action would re-execute the upstream
        streaming plan), after one shuffle on ``__bucket`` that both
        colocates each bucket's rows (one staged file per touched
        bucket) and dedupes the batch: the bucket is a function of the
        pk, so deduping on (bucket, pk) keeps the same rows as on pk.
        Then one of three commits:

        - first write: the staged dir is renamed into place;
        - insert: a pk-only broadcast semi-join over the touched buckets
          finds no staged key in the table, so the staged files are
          moved into their bucket dirs beside the files there — no
          bucket is rewritten;
        - merge: a staged key exists, the batch widens the schema, or a
          touched bucket already holds ``MAX_FILES_PER_BUCKET`` files,
          so the touched buckets are rewritten as table rows without a
          staged key plus the staged rows, one file per bucket, and
          swapped into place. The file cap is why no bucket dir ever
          holds more than ``MAX_FILES_PER_BUCKET`` files after an upsert.

        Every commit writes the table's ``_schema.json``, which
        :meth:`read` and the merge read with."""
        # replay an interrupted commit BEFORE staging: an insert commit's
        # journal names the stage dir, which the write below overwrites
        self._recover(table)
        cols = batch.columns
        bucket = F.pmod(F.xxhash64(F.col(pk).cast("string")), F.lit(self.n_buckets))
        # with K upstream partitions, partitionBy alone writes up to
        # K x n_buckets tiny files (measured 32x file-count inflation at
        # sf0.1); the shuffle on __bucket caps it at one file per bucket
        batch = batch.withColumn("__bucket", bucket.cast("int")).repartition(
            self.n_buckets, "__bucket"
        )
        # dedupe the batch itself: keep the last row per pk (CDC batches can
        # carry insert+update for one key; max operation ts wins — here we
        # rely on a monotonically increasing `__seq` if present, else any)
        if "__seq" in cols:
            latest = batch.groupBy("__bucket", pk).agg(
                F.max_by(F.struct(*[c for c in cols if c != pk]), "__seq").alias("s")
            )
            batch = latest.select(pk, "s.*", "__bucket").drop("__seq")
        else:
            batch = batch.dropDuplicates(["__bucket", pk])
        path = self._path(table)
        stage = f"{path}.__stage"
        batch.write.mode("overwrite").partitionBy("__bucket").parquet(stage)
        # explicit schema: an empty batch writes no partition dirs, which
        # would make schema inference fail (and the read is cheaper)
        staged = self.spark.read.schema(batch.schema).parquet(stage)
        # The staged write's own committed partition dirs ARE the
        # touched-bucket list (no distinct().collect() job). An empty
        # micro-batch (update mode can trigger with no changed rows)
        # writes none: affected == [] is both the empty guard (the
        # DDL-on-demand first write must not create a schema-less table
        # dir that poisons later pruned reads) and the pruning set.
        affected = [
            int(e.split("=", 1)[1])
            for e in os.listdir(stage)
            if e.startswith("__bucket=")
        ]
        if not affected:
            shutil.rmtree(stage, ignore_errors=True)
            return
        if not self.exists(table):
            # first write: the staged dir IS the table — one rename, zero
            # extra copies (S8 DDL-on-demand)
            self._write_schema(stage, batch.schema)
            os.replace(stage, path)
        else:
            # partition-pruned: untouched buckets are never read
            current = self._scan(table).filter(F.col("__bucket").isin(affected))
            have = {f.name: f.dataType.simpleString() for f in current.schema}
            fits = all(
                have.get(f.name) == f.dataType.simpleString() for f in batch.schema
            )
            # a listing, not a job: when a touched bucket is at the cap,
            # the merge below rewrites it and the clash probe is skipped
            full = any(
                _n_data_files(os.listdir(d)) >= MAX_FILES_PER_BUCKET
                for d in (os.path.join(path, f"__bucket={b}") for b in affected)
                if os.path.isdir(d)
            )
            clash = current.select(pk).join(
                F.broadcast(staged.select(pk)), pk, "left_semi"
            )
            # coalesce(1): one probe task, so isEmpty is one job however
            # many files the touched buckets hold (take(1) over N
            # partitions runs a job per 1, 4, 16, ... partitions)
            if fits and not full and clash.coalesce(1).isEmpty():
                self._commit(table, stage, current.schema, adds=affected)
            else:
                keep = current.join(staged.select(pk), on=pk, how="left_anti")
                merged = keep.unionByName(
                    staged, allowMissingColumns=True
                ).repartition(len(affected), "__bucket")
                # merge into a sibling dir, then swap bucket dirs into
                # place: the merged plan reads the CURRENT files while
                # writing to a different location, so no
                # checkpoint-before-overwrite copy is needed (on a real
                # lakehouse this branch is a Delta/Iceberg MERGE INTO
                # with file-level pruning)
                merge_dir = f"{path}.__merge"
                merged.write.mode("overwrite").partitionBy("__bucket").parquet(
                    merge_dir
                )
                self._commit(table, merge_dir, merged.schema, swaps=affected)
                shutil.rmtree(stage, ignore_errors=True)

    def delete(self, table: str, keys: DataFrame, pk: str = "id") -> None:
        """Retention: remove the rows whose ``pk`` appears in ``keys`` —
        the vacuum half of the lifecycle story (reconciliation feeds,
        e.g. corpus_diff removals, produce the key list). Same
        partition-pruned shape as upsert: only buckets that contain a
        doomed key are read or rewritten; a bucket whose every row is
        deleted has its dir removed."""
        if not self.exists(table):
            return
        path = self._path(table)
        bucket = F.pmod(F.xxhash64(F.col(pk).cast("string")), F.lit(self.n_buckets))
        doomed = (
            keys.select(pk)
            .dropDuplicates([pk])
            .withColumn("__bucket", bucket.cast("int"))
            .localCheckpoint(eager=True)  # one materialization of the key list
        )
        affected = [
            r["__bucket"] for r in doomed.select("__bucket").distinct().collect()
        ]
        if not affected:
            return
        current = self._scan(table).filter(F.col("__bucket").isin(affected))
        keep = current.join(doomed.select(pk), on=pk, how="left_anti")
        merge_dir = f"{path}.__merge"
        keep.write.mode("overwrite").partitionBy("__bucket").parquet(merge_dir)
        # split the affected buckets by outcome BEFORE journaling, so a
        # crash-replay knows that a bucket with no replacement dir was
        # fully emptied (remove dst) rather than already swapped — the
        # ambiguity that made the unjournaled loop unresumable
        swaps = [
            b
            for b in affected
            if os.path.isdir(os.path.join(merge_dir, f"__bucket={b}"))
        ]
        removes = [b for b in affected if b not in set(swaps)]
        self._commit(table, merge_dir, current.schema, swaps=swaps, removes=removes)
        # deleting the last row of every bucket must leave a READABLE
        # empty table, not a schema-less dir (exists() true but every
        # read/upsert raising UNABLE_TO_INFER_SCHEMA — a vacuum that
        # removes the whole corpus would brick the index). Write one
        # zero-row, schema-carrying file so reads return empty and the
        # next upsert merges normally.
        if not any(e.startswith("__bucket=") for e in os.listdir(path)):
            keep.drop("__bucket").limit(0).coalesce(1).write.mode(
                "overwrite"
            ).parquet(os.path.join(path, "__bucket=0"))

    def file_count(self, table: str) -> int:
        """Data-file count across bucket dirs (lifecycle observability —
        what the file-cap test bounds)."""
        self._recover(table)
        return sum(_n_data_files(files) for _d, _s, files in os.walk(self._path(table)))

    # foreach_batch_upserter collects the distinct sink_table list (and
    # per-table column-name lists) to the driver each micro-batch. That is
    # CONFIG-cardinality data — the routing table (TableProcess) has one
    # row per dimension table, a few dozen in the reference — so the
    # collect is bounded by configuration, not by CDC volume. The cap
    # below turns a misrouted high-cardinality column (e.g. someone maps
    # a business key into sink_table) into a loud error instead of a
    # silent driver flood/OOM.
    MAX_SINK_TABLES = 1000

    def foreach_batch_upserter(self, pk_by_table: dict[str, str]):
        """A foreachBatch function routing a CDC micro-batch (columns:
        sink_table, after map, ...) into per-table upserts — the streaming
        sink shape of DimSinkFunction. The distinct sink_table list must
        stay config-bounded (see MAX_SINK_TABLES)."""

        def fn(batch: DataFrame, batch_id: int) -> None:
            cap = self.MAX_SINK_TABLES
            tables = [
                r["sink_table"]
                for r in batch.select("sink_table").distinct().limit(cap + 1).collect()
            ]
            if len(tables) > cap:
                raise ValueError(
                    f"foreach_batch_upserter saw more than {cap} distinct "
                    "sink_table values in one micro-batch — sink_table must "
                    "be a config-cardinality routing key (is a data column "
                    "misrouted into it?)"
                )
            for t in tables:
                rows = batch.filter(F.col("sink_table") == t)
                # key union computed distributed-side: explode+distinct
                # collects one row PER DISTINCT COLUMN NAME (a handful),
                # never one per CDC row — collecting every row's map_keys
                # to the driver is an OOM at 100 TB CDC volume. (Reference
                # builds the column list per record in
                # function/DimSinkFunction.java:29-66, never centrally.)
                keys = sorted(
                    r["k"]
                    for r in rows.select(
                        F.explode(F.map_keys("after")).alias("k")
                    )
                    .distinct()
                    .collect()
                )
                flat = rows.select(
                    *[F.col("after").getItem(k).alias(k) for k in keys]
                )
                self.upsert(t, flat, pk=pk_by_table.get(t, "id"))

        return fn


def scd2_history(
    changelog: DataFrame, key: str, ts_col: str, payload_cols: list[str]
) -> DataFrame:
    """Build an SCD2 (slowly-changing-dimension type 2) history from a
    per-key changelog: each change becomes a version row with
    ``valid_from`` = its timestamp and ``valid_to`` = the next change's
    timestamp (null for the current version). The reference keeps only
    latest-state dims (Phoenix upsert overwrites,
    function/DimSinkFunction.java:29-66); SCD2 is the warehouse-grade
    extension that makes point-in-time dim joins possible — pair with
    ``operators.joins.asof_join`` on ``valid_from`` for the lookup.
    Changelog rows must be unique per (key, ts): pre-aggregate ties.

    One window over one shuffle by key; at 100 TB this is the standard
    sessionless lead() pass, persisted partitioned by key range."""
    w = W.partitionBy(key).orderBy(F.col(ts_col))
    return changelog.select(
        F.col(key),
        F.col(ts_col).alias("valid_from"),
        F.lead(ts_col).over(w).alias("valid_to"),
        *[F.col(c) for c in payload_cols],
    )

"""Incremental deduplication against a PERSISTED index — the
continuous-ingest hygiene shape at 100 TB: new arrivals are deduped
against the existing corpus WITHOUT re-reading or re-tokenizing the
corpus text. The corpus side of every comparison is the index
(content digests + MinHash signatures, persisted via
sources.dim_store.DimStore — the same bucketed-upsert machinery as the
S7 Phoenix dim store, reference function/DimSinkFunction.java:29-66);
only the (small) arrival batch is ever shingled.

Index tables:
- ``dedup_digest_idx`` (pk digest): content digest -> canonical keep_id.
  Exact-dup membership is one broadcast/hash join on the digest.
- ``dedup_sig_idx`` (pk doc_id): doc -> MinHash signature (mh0..mh{k-1},
  the same md5-seeded minima as llm.dedup.minhash_signatures). Near-dup
  candidates come from LSH band-bucket collisions between arrival
  signatures and INDEX signatures; candidates are verified by SIGNATURE
  AGREEMENT (matching components / num_hashes >= threshold) — the
  documented incremental trade: exact-Jaccard verification would need
  corpus shingles, which is precisely the re-tokenization this operator
  exists to avoid. Signature agreement is the standard estimator
  (E[agreement] = Jaccard) and is fully deterministic.

Decision contract per arrival: ``exact`` (digest hit, match_id = the
index's canonical keep_id), else ``near`` (best agreeing index doc:
max agreement, ties to the smallest doc_id), else ``new``. Arrivals are
compared against the INDEX only, not against each other — within-batch
duplicates are a preceding exact_dedup/minhash pass (already in the
family); after ingest the index contains the batch's new docs, so the
NEXT batch dedupes against them (proven in tests by chaining batches).

Scale shape: one decision plan per batch, in which each index table is
scanned once and streams through a broadcast probe of the arrival side,
so the index is never shuffled or broadcast. The exact path streams the
digest index against the arrival digests. The near path computes each
arrival's signature row-locally (sized by the BATCH), explodes every
index row to its band buckets and streams it against one broadcast of
the arrivals' (bucket, signature) rows, verifying agreement inside that
probe (linear candidates, same LSH bound as the batch operator); only
the verified collisions reach the per-arrival best-match aggregation.
Ingest checkpoints that plan once, and the index update rides
DimStore's bucketed upsert — brand-new keys are added as files to their
buckets, so nothing already indexed is rewritten; O(batch) writes plus
a pk probe of the touched buckets, not O(index).
"""

from __future__ import annotations

import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, functions as F

from ..functions.tokenize import tokenize_sql
from ..sources.dim_store import DimStore
from .dedup import minhash_signatures

DIGEST_TABLE = "dedup_digest_idx"
SIG_TABLE = "dedup_sig_idx"
DECISION_COLS = ("doc_id", "dup_kind", "match_id", "agree_n")


def _text_or_empty(text_col: str):
    """NULL text coalesced to '' — md5(NULL) is NULL and a NULL digest
    never joins, so un-coalesced NULL-text arrivals would re-classify as
    'new' every batch and churn a NULL-digest index row instead of
    converging. With the coalesce, NULL and empty documents share one
    digest and dedupe exactly like any other identical content."""
    return F.coalesce(F.col(text_col), F.lit(""))


def _digest_rows(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return (
        docs.select(
            F.md5(_text_or_empty(text_col)).alias("digest"),
            F.col(id_col).alias("doc_id"),
        )
        .groupBy("digest")
        .agg(F.min("doc_id").alias("keep_id"))
    )


def build_dedup_index(
    store: DimStore,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 8,
) -> None:
    """Bootstrap the index from an existing corpus — the ONE corpus-sized
    pass; every later arrival batch touches only the index."""
    docs = docs.withColumn(text_col, _text_or_empty(text_col))
    store.upsert(DIGEST_TABLE, _digest_rows(docs, id_col, text_col), pk="digest")
    sigs = minhash_signatures(docs, id_col, text_col, n, num_hashes)
    store.upsert(SIG_TABLE, sigs.withColumnRenamed("id", "doc_id"), pk="doc_id")


def incremental_dedup(
    store: DimStore,
    arrivals: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 2,
    min_agree: int = 4,
) -> DataFrame:
    """Read-only decision pass: (doc_id, dup_kind, match_id, agree_n).
    dup_kind in ('exact', 'near', 'new'); agree_n = num_hashes for exact
    hits, matching-signature-component count for near hits, NULL for new
    docs. The corpus side reads ONLY the two index tables — no corpus
    text scan appears in this plan (asserted in tests)."""
    return _decide(
        store, arrivals, id_col, text_col, n, num_hashes, bands, min_agree
    ).select(*DECISION_COLS)


@contextmanager
def _global_views(**frames: DataFrame):
    """Register each frame as a global temporary view under a fresh name
    and yield {key: qualified view name}; the views are dropped on exit.
    Global, not session, views: inside ``foreachBatch`` the arrival
    frame lives in the stream's cloned session and the index frames in
    the store's, and a session view is visible only in the session of
    the frame that registered it (``spark.sql(text, **frames)`` fails
    to resolve a view there). The SQL's analyzed plan keeps the frames'
    plans, so dropping the views does not touch the returned frame."""
    spark = next(iter(frames.values())).sparkSession
    db = spark.conf.get("spark.sql.globalTempDatabase")
    names = {k: f"_inc_{k}_{uuid.uuid4().hex}" for k in frames}
    try:
        for k, df in frames.items():
            df.createOrReplaceGlobalTempView(names[k])
        yield {k: f"{db}.{n}" for k, n in names.items()}
    finally:
        for n in names.values():
            spark.catalog.dropGlobalTempView(n)


def _decide(
    store: DimStore,
    arrivals: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    num_hashes: int,
    bands: int,
    min_agree: int,
) -> DataFrame:
    """One decision frame: :data:`DECISION_COLS`, then the arrival
    ``text`` and its signature ``mh0..mh{k-1}`` (NULL for exact hits and
    for docs shorter than ``n`` tokens) — everything the index update
    needs, so one checkpoint of this frame serves the returned decisions
    and both upserts.

    The plan is one SQL statement: one parse and one analysis in a
    handful of driver round trips (built frame by frame, the same plan
    would be analyzed once per intermediate frame). Every join broadcasts its
    arrival-bounded side, and each index table is scanned once and
    streamed, never shuffled: the digest index through the exact probe,
    the signature index through the bucket probe, whose output (band
    collisions, verified inside the probe) is the first thing any
    exchange sees."""
    hs = range(num_hashes)
    rows = num_hashes // bands

    def band_array(p: str) -> str:
        return "array({})".format(", ".join(
            f"concat_ws('_', '{b}', "
            + ", ".join(f"{p}{b * rows + r}" for r in range(rows)) + ")"
            for b in range(bands)
        ))

    mh = ", ".join(
        f"array_min(transform(grams, g -> substring(md5(concat('{i}|', g)), 1, 8)))"
        f" AS mh{i}"
        for i in hs
    )
    agree = " + ".join(f"IF(ab.a{i} = cb.c{i}, 1, 0)" for i in hs)
    spark = arrivals.sparkSession
    with _global_views(
        arr=arrivals, dig=store.read(DIGEST_TABLE), sig=store.read(SIG_TABLE)
    ) as v:
        return spark.sql(f"""
        WITH a AS (
          SELECT doc_id, text, md5(text) AS digest FROM (
            SELECT `{id_col}` AS doc_id, coalesce(`{text_col}`, '') AS text
            FROM {v['arr']})),
        -- exact membership: the digest index streams against the broadcast
        -- arrival digests, then the (arrival-bounded) hits broadcast back
        hits AS (
          SELECT /*+ BROADCAST(a) */ a.doc_id, d.keep_id
          FROM {v['dig']} d JOIN a ON d.digest = a.digest),
        x AS (
          SELECT /*+ BROADCAST(h) */ a.doc_id, a.text, h.keep_id AS exact_match,
                 {tokenize_sql('a.text')} AS toks
          FROM a LEFT JOIN hits h ON a.doc_id = h.doc_id),
        -- row-local MinHash: the min over a doc's n-grams needs no
        -- explode/group-by (duplicate grams cannot change a min)
        s AS (
          SELECT doc_id, text, exact_match, {mh} FROM (
            SELECT doc_id, text, exact_match,
                   IF(exact_match IS NULL AND size(toks) >= {n},
                      transform(sequence(1, size(toks) - {n} + 1),
                                i -> concat_ws(' ', slice(toks, i, {n}))),
                      array()) AS grams
            FROM x)),
        -- an unsigned arrival explodes to no bucket: a WHERE mh0 IS NOT
        -- NULL here would be pushed below the signature projection and
        -- tokenize and hash every arrival twice
        ab AS (
          SELECT doc_id AS a_id,
                 explode(IF(mh0 IS NULL, array(), {band_array('mh')})) AS bucket,
                 {", ".join(f"mh{i} AS a{i}" for i in hs)}
          FROM s),
        cb AS (
          SELECT doc_id AS c_id, explode({band_array('mh')}) AS bucket,
                 {", ".join(f"mh{i} AS c{i}" for i in hs)}
          FROM {v['sig']}),
        -- best match: max agreement, ties to the smallest index id, as
        -- min(struct(misses, c_id)); a pair colliding in several bands
        -- repeats, which cannot change a min
        best AS (
          SELECT a_id, min(named_struct('miss', {num_hashes} - agree, 'cid', c_id)) AS b
          FROM (SELECT /*+ BROADCAST(ab) */ ab.a_id, cb.c_id, {agree} AS agree
                FROM cb JOIN ab ON cb.bucket = ab.bucket)
          WHERE agree >= {min_agree}
          GROUP BY a_id)
        SELECT /*+ BROADCAST(best) */ s.doc_id,
               CASE WHEN s.exact_match IS NOT NULL THEN 'exact'
                    WHEN best.b IS NOT NULL THEN 'near'
                    ELSE 'new' END AS dup_kind,
               coalesce(s.exact_match, best.b.cid) AS match_id,
               CAST(IF(s.exact_match IS NOT NULL, {num_hashes}, {num_hashes} - best.b.miss)
                    AS BIGINT) AS agree_n,
               s.text, {", ".join(f"s.mh{i}" for i in hs)}
        FROM s LEFT JOIN best ON s.doc_id = best.a_id""")


def ingest_with_dedup(
    store: DimStore,
    arrivals: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 2,
    min_agree: int = 4,
) -> DataFrame:
    """Decide + UPDATE: runs :func:`incremental_dedup`, then adds the
    batch's ``new`` docs (digest + signature) to the index so the next
    batch dedupes against them. The ARRIVAL batch is materialized once
    at entry (foreachBatch discipline: a streaming micro-batch's
    upstream plan executes exactly once). Then one phase boundary: the
    decision frame, which also carries each arrival's text and
    signature, is checkpointed BEFORE the index update, and the returned
    decisions and both upserts read that checkpoint — a lazy decision
    plan re-read after the upsert would see the arrivals' own rows and
    misclassify them as exact self-matches."""
    arr = arrivals.select(
        F.col(id_col).alias("doc_id"), _text_or_empty(text_col).alias("text")
    ).localCheckpoint(eager=True)
    dec = _decide(
        store, arr, "doc_id", "text", n, num_hashes, bands, min_agree
    ).localCheckpoint(eager=True)
    new = dec.filter(F.col("dup_kind") == "new")
    store.upsert(DIGEST_TABLE, _digest_rows(new, "doc_id", "text"), pk="digest")
    # docs shorter than n tokens have no signature (as in the bootstrap)
    store.upsert(
        SIG_TABLE,
        new.filter(F.col("mh0").isNotNull()).select(
            "doc_id", *[f"mh{i}" for i in range(num_hashes)]
        ),
        pk="doc_id",
    )
    return dec.select(*DECISION_COLS)


CLUSTER_TABLE = "dup_cluster_map"


def build_cluster_map(store: DimStore, pairs: DataFrame) -> None:
    """Bootstrap the persisted cluster map from a batch pair set: one
    full star-CC (llm/dedup.py::dup_clusters), rows (id, cluster_id)
    upserted into DimStore. Singleton docs (no pairs) stay implicit —
    same contract as the batch operator's output."""
    from .dedup import dup_clusters

    store.upsert(CLUSTER_TABLE, dup_clusters(pairs), pk="id")


def update_dup_clusters(store: DimStore, new_pairs: DataFrame) -> DataFrame:
    """INCREMENTAL connected-component maintenance (r6 VERDICT ask #4):
    fold a batch of new near-dup edges into the persisted (id,
    cluster_id) map without recomputing CC over the corpus.

    Invariant maintained: after every call the map equals
    ``dup_clusters`` run over the UNION of all edges ever seen
    (min-id canonical labels) — proven by the equivalence test.

    How: each batch edge endpoint is translated to its CURRENT label
    (its cluster_id if mapped, else itself — labels are cluster minima,
    so this is quotient-graph contraction); star-CC then runs on the
    CONTRACTED graph only, which is BATCH-sized, not corpus-sized — the
    'full CC only when the batch merges clusters' discipline, made
    uniform: an attach-only batch contracts to arrival->label stars and
    converges in one round, a cluster-merging batch unifies the labels
    themselves. Relabels (an existing cluster's min changed: merged
    with a smaller-min cluster or an arrival with a smaller id) rewrite
    only the touched clusters' member rows — the corpus-sized map
    streams through one broadcast relabel probe and only matching rows
    are upserted (bucket-pruned by id). Reference analog: keyed-state
    accumulation, dwm/UniqueVisitApp.java:44-50 — per-key state
    advances in place, no global recompute.

    Returns the (id, cluster_id) assignment rows written this batch
    (newly-mapped nodes + relabeled members)."""
    from .dedup import dup_clusters

    edges = (
        new_pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        edges.select(F.col("a").alias("id"))
        .union(edges.select(F.col("b").alias("id")))
        .distinct()
    )
    if store.exists(CLUSTER_TABLE):
        m = store.read(CLUSTER_TABLE)
        # batch-bounded: the corpus-sized map streams against the
        # broadcast batch node set
        existing = m.join(F.broadcast(nodes), "id").localCheckpoint(eager=True)
    else:
        m = None
        existing = nodes.filter(F.lit(False)).withColumn(
            "cluster_id", F.col("id")
        )
    la = existing.select(F.col("id").alias("a"), F.col("cluster_id").alias("la"))
    lb = existing.select(F.col("id").alias("b"), F.col("cluster_id").alias("lb"))
    contracted = (
        edges.join(F.broadcast(la), "a", "left")
        .join(F.broadcast(lb), "b", "left")
        .select(
            F.coalesce("la", "a").alias("id_a"),
            F.coalesce("lb", "b").alias("id_b"),
        )
        .filter(F.col("id_a") != F.col("id_b"))
        .distinct()
    )
    comp = dup_clusters(contracted).localCheckpoint(eager=True)
    # nodes seen for the first time get their component's label
    newcomers = nodes.join(existing.select("id"), "id", "left_anti")
    rows_new = comp.join(F.broadcast(newcomers), "id")
    # labels that moved = existing clusters whose canonical min changed
    relabels = (
        comp.filter(F.col("id") != F.col("cluster_id"))
        .join(
            F.broadcast(
                existing.select(F.col("cluster_id").alias("id")).distinct()
            ),
            "id",
        )
        .select(F.col("id").alias("_old"), F.col("cluster_id").alias("_new"))
        .localCheckpoint(eager=True)
    )
    if m is not None and relabels.take(1):
        moved = m.join(
            F.broadcast(relabels), m["cluster_id"] == relabels["_old"]
        ).select("id", F.col("_new").alias("cluster_id"))
    else:
        moved = rows_new.filter(F.lit(False))
    written = rows_new.unionByName(moved).localCheckpoint(eager=True)
    store.upsert(CLUSTER_TABLE, written, pk="id")
    return written


def read_cluster_map(store: DimStore) -> DataFrame:
    """The current (id, cluster_id) map (non-singleton docs)."""
    return store.read(CLUSTER_TABLE)


def vacuum_cluster_map(store: DimStore, removed_ids: DataFrame) -> DataFrame:
    """Retention for the cluster map: drop removed docs' member rows
    and RE-ELECT the canonical label of any cluster whose minimum was
    removed (new label = min surviving member id), keeping the map's
    invariant that every cluster_id is the min id of its cluster.

    Documented contract: the surviving partition is preserved — a
    removed doc never SPLITS a cluster, because the map stores the
    quotient, not the edges; exact decremental connectivity needs the
    pair set (keep the pairs table and recompute the touched component
    if splits matter — at 100 TB that is the storage-vs-recompute trade
    this family already documents). Scale shape: the map streams
    through broadcast probes of the (small) removal list and the
    touched-label list; deletes/upserts ride the bucket-pruned store.

    Returns the relabel rows written (id, cluster_id)."""
    id_c = removed_ids.columns[0]
    ids = (
        removed_ids.select(F.col(id_c).alias("id"))
        .dropDuplicates(["id"])
        .localCheckpoint(eager=True)
    )
    m = store.read(CLUSTER_TABLE)
    # labels being removed — their clusters need re-election (bounded
    # by the removal list)
    dead_labels = (
        m.join(F.broadcast(ids), m["cluster_id"] == ids["id"])
        .select("cluster_id")
        .distinct()
        .localCheckpoint(eager=True)
    )
    store.delete(CLUSTER_TABLE, ids, pk="id")
    if not dead_labels.take(1):
        return m.filter(F.lit(False)).select("id", "cluster_id")
    m2 = store.read(CLUSTER_TABLE)
    touched = m2.join(F.broadcast(dead_labels), "cluster_id")
    new_lbl = touched.groupBy("cluster_id").agg(F.min("id").alias("_new"))
    relabeled = (
        touched.join(F.broadcast(new_lbl), "cluster_id")
        .select("id", F.col("_new").alias("cluster_id"))
        .localCheckpoint(eager=True)
    )
    store.upsert(CLUSTER_TABLE, relabeled, pk="id")
    return relabeled


def foreach_batch_cluster_updater(store: DimStore):
    """Streaming twin: fold each micro-batch of (id_a, id_b) near-dup
    edges into the persisted cluster map. Because every fold maintains
    map == dup_clusters(all edges seen) and edge-set union commutes,
    the SETTLED map is independent of how the stream chopped the edges
    into micro-batches — the same replay-safety argument as the
    reference's keyed-state accumulation (dwm/UniqueVisitApp.java:44-50)."""

    def fn(batch: DataFrame, batch_id: int) -> None:
        update_dup_clusters(store, batch)

    return fn


def vacuum_dedup_index(store: DimStore, removed_ids: DataFrame) -> None:
    """Retention: drop index entries for documents REMOVED from the
    corpus (``removed_ids``: one column of doc ids — e.g. the
    right-only side of llm/sampling.py::corpus_diff reconciliation).
    Signature rows are keyed by doc_id directly; digest rows are
    dropped when their CANONICAL holder (keep_id) was removed — the
    content re-registers as 'new' on next arrival, the honest behavior
    when the canonical copy is gone. Both deletes ride DimStore's
    partition-pruned bucket rewrite; the doomed-digest probe broadcasts
    the (small) removal list so the digest index never shuffles."""
    id_c = removed_ids.columns[0]
    ids = removed_ids.select(F.col(id_c).alias("doc_id")).dropDuplicates(["doc_id"])
    store.delete(SIG_TABLE, ids, pk="doc_id")
    doomed = (
        store.read(DIGEST_TABLE)
        .join(F.broadcast(ids), F.col("keep_id") == F.col("doc_id"))
        .select("digest")
    )
    store.delete(DIGEST_TABLE, doomed, pk="digest")


def vacuum_embed_index(store: DimStore, removed_ids: DataFrame) -> None:
    """Vector-twin retention: the embedding index is keyed by vec_id,
    so removal is one pruned delete."""
    id_c = removed_ids.columns[0]
    store.delete(
        EMB_TABLE,
        removed_ids.select(F.col(id_c).alias("vec_id")),
        pk="vec_id",
    )


def foreach_batch_ingester(
    store: DimStore,
    out_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    **kw,
):
    """Streaming twin: a foreachBatch function that runs
    :func:`ingest_with_dedup` per micro-batch and appends the decisions
    to ``out_dir`` — continuous-ingest dedup where batch N+1's arrivals
    dedupe against everything batch N added to the index (the streaming
    analog of the reference's first-per-key keyed state,
    dwm/UniqueVisitApp.java:44-50, with the 'key' being content
    identity)."""

    def fn(batch: DataFrame, batch_id: int) -> None:
        # no pre-flight emptiness action: ingest checkpoints the batch
        # once and every downstream step (incl. DimStore's empty guard
        # and an empty decisions append) is empty-safe
        decisions = ingest_with_dedup(store, batch, id_col, text_col, **kw)
        decisions.write.mode("append").parquet(out_dir)

    return fn


# ---------------------------------------------------------------------------
# Incremental EMBEDDING dedup — the vector-modality twin of the text
# index above: corpus vectors + their LSH bucket keys persist once;
# arrival batches probe by bucket collision and verify by cosine. The
# index stores the vectors themselves (cosine verification needs them —
# unlike text, there is no cheaper sketch with the same decision), so
# the win over the batch operator is (a) no corpus re-bucketing and
# (b) the index never shuffles: buckets explode narrowly and every join
# broadcasts the arrival side.
#
# Bucketing uses the EXPRESSION rendering (similarity.lsh_bucket:
# sequential-fold dot products) on both sides, not the numpy-gemm
# pandas UDF the batch LSH uses — numpy's pairwise summation rounds
# differently in the last ulp, which could flip a sign on a near-zero
# dot and break oracle hashing. Arrival batches are small and the
# corpus side pays the expression cost once at build time.
# ---------------------------------------------------------------------------

EMB_TABLE = "embdedup_vec_idx"


def _emb_buckets_col(vec_col, dim: int, n_planes: int, n_tables: int, seed: int):
    from .similarity import _hyperplanes, lsh_bucket

    tables = [_hyperplanes(dim, n_planes, seed + 1000 * t) for t in range(n_tables)]
    return F.array(
        *[
            F.concat(F.lit(f"{t}:"), lsh_bucket(vec_col, tables[t]))
            for t in range(n_tables)
        ]
    )


def build_embed_index(
    store: DimStore,
    embs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 8,
    n_tables: int = 2,
    seed: int = 42,
) -> None:
    """Bootstrap: one corpus pass stores (vec_id, vec, bucket keys)."""
    rows = embs.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("vec"),
        _emb_buckets_col(F.col(vec_col), dim, n_planes, n_tables, seed).alias(
            "buckets"
        ),
    )
    store.upsert(EMB_TABLE, rows, pk="vec_id")


def incremental_embed_dedup(
    store: DimStore,
    arrivals: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 8,
    n_tables: int = 2,
    seed: int = 42,
    threshold: float = 0.9,
) -> DataFrame:
    """Decisions (vec_id, dup_kind, match_id, sim) for an arrival batch
    against the persisted vector index: ``exact`` = identical vector
    already indexed (array-equality probe, match = smallest holder id),
    ``near`` = best cosine >= threshold among LSH bucket collisions,
    else ``new``. Same arrival-broadcast discipline as the text path —
    the index streams, never shuffles."""
    from .similarity import gated_exact_sim

    idx = store.read(EMB_TABLE)
    arr = arrivals.select(
        F.col(id_col).alias("a_id"), F.col(vec_col).alias("a_vec")
    ).withColumn(
        "a_buckets", _emb_buckets_col(F.col("a_vec"), dim, n_planes, n_tables, seed)
    )
    hits = (
        idx.join(F.broadcast(arr.select("a_id", "a_vec")), idx["vec"] == F.col("a_vec"))
        .groupBy("a_id")
        .agg(F.min("vec_id").alias("exact_match"))
    )
    with_exact = arr.join(F.broadcast(hits), "a_id", "left")
    ne = with_exact.filter(F.col("exact_match").isNull()).select(
        "a_id", "a_vec", "a_buckets"
    )
    a_bk = ne.select("a_id", F.explode("a_buckets").alias("bucket")).distinct()
    c_bk = idx.select(
        F.col("vec_id").alias("c_id"), F.explode("buckets").alias("bucket")
    )
    cands = (
        c_bk.join(F.broadcast(a_bk), "bucket").select("a_id", "c_id").distinct()
    )
    pairs = idx.select(F.col("vec_id").alias("c_id"), F.col("vec").alias("c_vec")).join(
        F.broadcast(
            cands.join(
                F.broadcast(ne.select("a_id", "a_vec")), "a_id"
            )
        ),
        "c_id",
    )
    # r16: vectorized one-sided prefilter gating the exact fold — same
    # candidates+verify discipline as embedding_near_dups (see
    # similarity.gated_exact_sim for the bound AND for why the gate must
    # be one expression: a separate exact filter gets pushed below the
    # Python node into the join); the emitted sim stays the oracle-exact
    # sequential fold, evaluated on survivors only
    scored = pairs.select(
        "a_id",
        "c_id",
        gated_exact_sim(F.col("a_vec"), F.col("c_vec"), threshold).alias("sim"),
    ).filter(F.col("sim") >= threshold)
    # max sim, ties to smallest corpus id — min(struct(-sim, c_id)) so
    # the id column stays type-generic (negating the id would break
    # string/uuid ids; only sim, always a double, is negated)
    best = scored.groupBy("a_id").agg(
        F.min(
            F.struct((-F.col("sim")).alias("negsim"), F.col("c_id").alias("cid"))
        ).alias("b")
    )
    return (
        with_exact.join(F.broadcast(best), "a_id", "left")
        .select(
            F.col("a_id").alias("vec_id"),
            F.when(F.col("exact_match").isNotNull(), F.lit("exact"))
            .when(F.col("b").isNotNull(), F.lit("near"))
            .otherwise(F.lit("new"))
            .alias("dup_kind"),
            F.coalesce(F.col("exact_match"), F.col("b").getField("cid")).alias(
                "match_id"
            ),
            F.when(F.col("exact_match").isNotNull(), F.lit(1.0))
            .otherwise(-F.col("b").getField("negsim"))
            .alias("sim"),
        )
    )


def ingest_embed_with_dedup(
    store: DimStore,
    arrivals: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    **kw,
) -> DataFrame:
    """Decide + add the batch's ``new`` vectors (with their bucket keys)
    to the index; the arrival batch materializes once at entry and the
    decisions before the index update (same foreachBatch discipline as
    the text twin)."""
    arr = arrivals.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias(vec_col)
    ).localCheckpoint(eager=True)
    decisions = incremental_embed_dedup(
        store, arr, "vec_id", vec_col, **kw
    ).localCheckpoint(eager=True)
    new_ids = decisions.filter(F.col("dup_kind") == "new").select("vec_id")
    new_rows = arr.join(new_ids, "vec_id")
    build_embed_index(store, new_rows, "vec_id", vec_col, **{
        k: v for k, v in kw.items() if k in ("dim", "n_planes", "n_tables", "seed")
    })
    return decisions


def foreach_batch_embed_ingester(
    store: DimStore,
    out_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    **kw,
):
    """Streaming twin for the vector index: ingest_embed_with_dedup per
    micro-batch, decisions appended to ``out_dir`` — continuous vector
    ingest where batch N+1 dedupes against batch N's additions."""

    def fn(batch: DataFrame, batch_id: int) -> None:
        # empty-safe end to end; the batch materializes once inside
        # ingest_embed_with_dedup
        decisions = ingest_embed_with_dedup(store, batch, id_col, vec_col, **kw)
        decisions.write.mode("append").parquet(out_dir)

    return fn

"""Similarity search over an embedding column (array<float>).

Baseline: brute-force cosine top-k — a broadcast nested-loop of the
query set against the corpus, entirely JVM-side (``zip_with`` dot
product inside whole-stage codegen; no Python in the loop). At 100 TB
the corpus side stays partitioned and only the (small) query side is
broadcast, so the scan is embarrassingly parallel and the per-partition
top-k is combined by a final TakeOrdered — no full shuffle.

Scale path: bucketed LSH (random-hyperplane signs) — candidates only
within matching buckets, trading recall for a ~buckets× cut in dot
products. Hyperplanes are generated from a fixed seed so results are
reproducible run-to-run.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window as W, functions as F

from ..sources.io import local_frame


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<float/double> columns, computed in
    double, sequential accumulation (deterministic, oracle-portable).
    Zero-norm vectors yield NULL (try_divide) rather than an ANSI
    divide-by-zero error, so `sim >= threshold` predicates drop them
    uniformly on every path."""
    def _dbl(c: Column) -> Column:
        return F.transform(c, lambda x: x.cast("double"))

    a, b = _dbl(a), _dbl(b)
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)
    na = F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda s, x: s + x))
    nb = F.sqrt(F.aggregate(F.transform(b, lambda x: x * x), F.lit(0.0), lambda s, x: s + x))
    return F.try_divide(dot, na * nb)


# one-sided prefilter slack for cosine_hat (see its docstring): numpy's
# float64 error vs the sequential fold is ~dim ulps (<1e-13 at dim 64),
# so 1e-6 is a >6-order-of-magnitude safety margin — same bound the
# blocked-GEMM candidate stage of exact_cosine_pairs documents.
_HAT_EPS = 1e-6


def cosine_hat(a: Column, b: Column) -> Column:
    """Arrow-vectorized APPROXIMATE cosine — the candidate-PREFILTER
    twin of :func:`cosine` (r16 optimization; guide §4.2: one numpy
    batch op per Arrow batch replaces THREE interpreted higher-order
    folds per pair — the r15-measured 41.7 s / ~1.0 M-pair verify grind
    at sf0.1).

    One-sided-bound contract: ``cosine_hat(a, b) >= t - _HAT_EPS`` keeps
    EVERY pair the exact predicate ``cosine(a, b) >= t`` accepts, plus
    at most a hairline band of extras that the exact verify then drops —
    numpy's dot/norm accumulation differs from the sequential expression
    fold by at most ~dim ulps of the partial sums (<< 1e-6 on the
    normalized quantity; see exact_cosine_pairs' GEMM stage for the same
    argument and precedent). NEVER a substitute for :func:`cosine` in an
    output column: emitted ``sim`` values must stay the oracle-exact
    sequential fold.

    Null rows, ragged pairs and zero-norm vectors yield NaN. NOTE (r17,
    ADVICE fix): Spark SQL orders NaN GREATER than every numeric, so
    these rows PASS the ``>=`` prefilter — safety comes from the
    downstream exact verify, where the fold nulls them out (try_divide /
    null-propagating zip_with) and the NULL fails the exact ``>=``. A
    caller relying on the prefilter ALONE to drop null/zero-norm rows
    would be wrong; every call site must keep the exact verify."""
    import pandas as pd  # noqa: PLC0415 — executor-side import shape
    from pyspark.sql.functions import pandas_udf

    def hat(va, vb):
        n = len(va)
        if n == 0:
            return pd.Series([], dtype="float64")
        try:
            A = np.stack([np.asarray(x, dtype=np.float64) for x in va])
            B = np.stack([np.asarray(x, dtype=np.float64) for x in vb])
        except (TypeError, ValueError):
            # null / ragged rows in this batch: per-row fallback (rare —
            # the fast path handles any batch of uniform-dim pairs)
            out = np.full(n, np.nan, dtype=np.float64)
            for i, (x, y) in enumerate(zip(va, vb)):
                if x is None or y is None:
                    continue
                try:
                    xa = np.asarray(x, dtype=np.float64)
                    ya = np.asarray(y, dtype=np.float64)
                except (TypeError, ValueError):
                    continue
                if xa.shape != ya.shape or xa.ndim != 1:
                    continue
                with np.errstate(divide="ignore", invalid="ignore"):
                    out[i] = (xa @ ya) / (
                        np.linalg.norm(xa) * np.linalg.norm(ya)
                    )
            return pd.Series(out)
        with np.errstate(divide="ignore", invalid="ignore"):
            s = np.einsum("ij,ij->i", A, B) / (
                np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
            )
        return pd.Series(s)

    # real class objects, not strings (same reason as _table_buckets):
    # `from __future__ import annotations` stringifies inline hints,
    # which pandas_udf's type inference rejects
    hat.__annotations__ = {"va": pd.Series, "vb": pd.Series, "return": pd.Series}
    # asNondeterministic (guide §4.4): when the gated expression is
    # consumed by BOTH a projection and a filter (gated_exact_sim), the
    # optimizer's alias substitution otherwise duplicates the UDF into
    # TWO stacked ArrowEvalPython nodes — a pair of chained Python
    # runners in one stage. Besides evaluating hat twice on survivors,
    # the chained-runner topology is where a (nondeterministic,
    # sf1-only, observed once) Spark 4.1 single-threaded-PythonRunner
    # read/read deadlock bit during r16 measurement. One node, one
    # worker per task. The marking is semantic-free here: hat is a pure
    # per-row float function; "nondeterministic" only tells the
    # optimizer not to duplicate/reorder it.
    return pandas_udf(hat, "double").asNondeterministic()(a, b)


def gated_exact_sim(va: Column, vb: Column, threshold: float) -> Column:
    """The oracle-exact cosine, evaluated ONLY where the vectorized
    prefilter passes: ``CASE WHEN cosine_hat >= t - eps THEN cosine END``
    (NULL otherwise, which no ``>=`` predicate accepts).

    Why a single gated expression instead of two stacked filters: a
    bare ``filter(cosine(...) >= t)`` above the prefilter is a
    deterministic JVM predicate that Catalyst happily pushes BELOW the
    ArrowEvalPython node — measured at r16 open, it lands inside the
    bucket join as a join condition and the interpreted fold runs on
    every candidate pair anyway (the prefilter then costs Arrow
    transfer for nothing; plan C == plan D at ~25 s). Referencing the
    UDF output column inside the exact expression makes that pushdown
    impossible — the fold stays above the Python node and CASE WHEN
    short-circuits it per row, so only prefilter survivors (~2 k of
    ~1 M at sf0.1) pay the three-fold evaluation. ``filter(col >= t)``
    on the result keeps exactly the pairs the ungated
    ``cosine(...) >= t`` accepts, by the one-sided `_HAT_EPS` bound."""
    return F.when(
        cosine_hat(va, vb) >= F.lit(float(threshold) - _HAT_EPS),
        cosine(va, vb),
    )


def knn_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k neighbors for every query vector.

    (query_id, neighbor_id, sim, rank); self-matches excluded; ties broken
    by neighbor id for determinism.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("sim", cosine(F.col("q_vec"), F.col("c_vec")))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def exact_cosine_pairs(
    embs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    block: int = 4096,
) -> DataFrame:
    """EXACT all-pairs cosine >= threshold — the ground-truth side of
    the ANN/dedup recall contracts (inherently quadratic: it grades the
    blocked operators, so it cannot itself block by similarity).
    Returns (id_a, id_b) with id_a < id_b; requires one row per id.

    r14: this used to be a raw ``id_a < id_b`` self-join with the
    expression :func:`cosine` per pair — three interpreted
    higher-order-function folds over every component of every pair,
    measured 228-254 s at sf0.1 (~72M pairs) in each of the two
    contract entries while the equivalent DuckDB scan took 22-88 s.
    Now the repo's standard candidates+verify shape, exact end to end:

    1. CANDIDATES by blocked GEMM: ids are dealt into hash blocks of
       ~``block`` rows; each block aggregates to ONE row carrying its
       (id, vec) structs; block pairs (g_a <= g_b) cross-join — a tiny
       nb^2 frame — and an Arrow-batched mapInPandas runs one numpy
       float64 matrix product per cell, keeping pairs with
       sim_hat >= threshold - 1e-6. numpy's blocked/pairwise
       accumulation differs from the sequential expression fold by at
       most ~dim ulps of the partial sums (<< 1e-6 on a normalized
       quantity), so the candidate set provably contains every pair
       the expression predicate accepts — one-sided, like every
       candidate stage in this repo (see _table_buckets for the same
       linear-algebra-on-Arrow precedent and its rationale).
    2. VERIFY with the exact sequential-fold expression cosine —
       bit-identical to the DuckDB oracle fold — on the candidate set
       only. The accepted pair set is therefore EXACTLY the naive
       join's for any input, however close to the threshold.

    Scale posture: the quadratic work runs as nb^2 GEMM cells, each a
    single vectorized kernel over <= block^2 sims, instead of 72M
    interpreted codegen rows; Arrow moves 2*block*dim doubles per
    cell. One bounded eager action (a count() to size nb) — this is
    the contract-verification harness, not the production dedup path;
    production near-dup runs the LSH/cell operators this function
    grades."""
    eps = 1e-6
    src = embs.select(
        F.col(id_col).cast("long").alias("id"),
        F.transform(vec_col, lambda x: x.cast("double")).alias("vec"),
    )
    n = src.count()
    nb = max(1, -(-n // block))
    keyed = src.select(
        F.pmod(F.xxhash64(F.col("id")), F.lit(nb)).cast("int").alias("g"),
        F.struct("id", "vec").alias("item"),
    )
    blocks = keyed.groupBy("g").agg(F.collect_list("item").alias("items"))
    la = blocks.select(
        F.col("g").alias("g_a"), F.col("items").alias("items_a")
    )
    lb = blocks.select(
        F.col("g").alias("g_b"), F.col("items").alias("items_b")
    )
    cells = la.join(lb, F.col("g_a") <= F.col("g_b"))
    thr = float(threshold) - eps

    def gemm(pdf_iter):
        import pandas as pd  # noqa: PLC0415 — executor-side

        for pdf in pdf_iter:
            for _, row in pdf.iterrows():
                pa, pb = _gemm_cell_pairs(
                    row["items_a"],
                    row["items_b"],
                    row["g_a"] == row["g_b"],
                    thr,
                )
                if len(pa):
                    yield pd.DataFrame({"id_a": pa, "id_b": pb})

    # distinct() is insurance, not load-bearing: blocks are disjoint by
    # hash and the id-based diagonal mask emits each within-block pair
    # once, so the candidate stream is already duplicate-free — but the
    # exactness contract here warrants a cheap belt-and-braces shuffle
    # over the (small) candidate set (r14 ADVICE).
    cands = cells.mapInPandas(gemm, "id_a long, id_b long").distinct()
    va = src.select(F.col("id").alias("id_a"), F.col("vec").alias("_va"))
    vb = src.select(F.col("id").alias("id_b"), F.col("vec").alias("_vb"))
    return (
        cands.join(va, "id_a")
        .join(vb, "id_b")
        .filter(cosine(F.col("_va"), F.col("_vb")) >= threshold)
        .select("id_a", "id_b")
    )


def _gemm_cell_pairs(ia, ib, same_block: bool, thr: float):
    """One GEMM cell of :func:`exact_cosine_pairs`: items are
    ``{id, vec}`` structs (any Arrow row shape with mapping access);
    returns the cell's candidate pairs as (id_a, id_b) int64 arrays,
    id_a < id_b.

    The diagonal (same-block) mask compares IDS, not positions
    (r14 ADVICE, high): ``items_a`` and ``items_b`` come from two
    independent evaluations of a ``collect_list`` aggregate whose
    post-shuffle order Spark does not guarantee, so a positional
    ``tril_indices`` mask could silently drop real pairs (both
    orientations masked), emit self-pairs id_a == id_b (cosine 1.0 —
    the naive ``id_a < id_b`` join never emits these), or duplicate
    pairs when the two orders diverge. ``ids_a >= ids_b`` keeps exactly
    the id_a < id_b entries of the similarity matrix whatever order
    either side arrived in, and kills self-pairs by construction."""
    import numpy as np  # noqa: PLC0415 — executor-side

    ids_a = np.asarray([x["id"] for x in ia], dtype=np.int64)
    A = np.asarray([x["vec"] for x in ia], dtype=np.float64)
    ids_b = np.asarray([x["id"] for x in ib], dtype=np.int64)
    B = np.asarray([x["vec"] for x in ib], dtype=np.float64)
    na = np.linalg.norm(A, axis=1)
    nbn = np.linalg.norm(B, axis=1)
    with np.errstate(divide="ignore", invalid="ignore"):
        S = (A @ B.T) / np.outer(na, nbn)
    if same_block:
        S[ids_a[:, None] >= ids_b[None, :]] = -np.inf
    i, j = np.nonzero(S >= thr)  # NaN (zero-norm) never passes
    pa, pb = ids_a[i], ids_b[j]
    return np.minimum(pa, pb), np.maximum(pa, pb)


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    rng = np.random.RandomState(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def lsh_bucket(vec_col: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane signature: one bit per plane = sign of <v, p>."""
    bits = [
        F.when(
            F.aggregate(
                F.zip_with(
                    F.transform(vec_col, lambda x: x.cast("double")),
                    F.array(*[F.lit(float(w)) for w in plane]),
                    lambda x, y: x * y,
                ),
                F.lit(0.0),
                lambda s, x: s + x,
            )
            >= 0,
            "1",
        ).otherwise("0")
        for plane in planes
    ]
    return F.concat(*bits)


def _table_buckets(vec: Column, tables: list[list[list[float]]]) -> Column:
    """array of 'tableIdx:bits' bucket keys, one per hash table.

    Arrow-batched pandas UDF: all T*P plane dot products per vector run
    as ONE numpy matrix multiply per batch. The expression rendering
    (:func:`lsh_bucket` per table) is semantically identical but its
    T*P*dim higher-order-function lambdas evaluate interpreted —
    ~50x slower per row; linear algebra is the one hot path where the
    vectorized-UDF exception to "stay JVM-side" pays for the Arrow
    transfer many times over."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    mats = np.asarray(tables, dtype=np.float64)  # (T, P, D)
    n_tables, n_planes, _dim = mats.shape
    flat = mats.reshape(n_tables * n_planes, -1)
    prefixes = [f"{t}:" for t in range(n_tables)]

    dim = flat.shape[1]

    def bucketize(s):
        if len(s) == 0:
            return pd.Series([], dtype=object)
        # null / wrong-dimension vectors get a null bucket list (explode
        # then drops the row from candidates) instead of failing the
        # Arrow batch; stricter than the expression rendering, which
        # folds a null dot to sign "0" and lumps null vecs into the
        # all-zeros bucket — excluded is the defensible semantics
        vecs = [np.asarray(x, dtype=np.float64) if x is not None else None for x in s]
        ok = [v is not None and v.shape == (dim,) for v in vecs]
        if any(ok):
            good = np.stack([v for v, k in zip(vecs, ok) if k])
            # accumulate in SEQUENTIAL index order — ((x0*y0)+x1*y1)+...
            # in float64 — so the sign decision is bit-identical to the
            # lsh_bucket expression fold AND to a DuckDB
            # list_reduce(list_transform(...)) oracle fold. A single
            # `good @ flat.T` matmul uses pairwise/SIMD summation whose
            # last-ulp drift could flip a near-zero sign between engines;
            # 64 vectorized accumulate steps keep the numpy speedup
            # while making hyperplane-literal SQL oracles engine-exact.
            acc = np.zeros((good.shape[0], flat.shape[0]), dtype=np.float64)
            for d_i in range(dim):
                acc += good[:, d_i : d_i + 1] * flat[:, d_i]
            bits = (acc >= 0.0).reshape(-1, n_tables, n_planes)
        else:
            bits = np.empty((0, n_tables, n_planes), dtype=bool)
        out, gi = [], 0
        for k in ok:
            if not k:
                out.append(None)
                continue
            row = bits[gi]
            gi += 1
            out.append(
                [
                    p + "".join("1" if b else "0" for b in row[t])
                    for t, p in enumerate(prefixes)
                ]
            )
        return pd.Series(out)

    # real class objects, not strings: `from __future__ import annotations`
    # stringifies inline hints, which pandas_udf's type inference rejects
    bucketize.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return pandas_udf(bucketize, "array<string>")(
        F.transform(vec, lambda x: x.cast("double"))
    )


def knn_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    dim: int = 64,
    n_planes: int = 4,
    n_tables: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k via multi-table random-hyperplane LSH: ``n_tables``
    independent hash tables of ``n_planes`` bits; a corpus vector is a
    candidate if it collides with the query in ANY table (recall
    1-(1-p^k)^L vs a single table's p^k). Candidates deduped before
    scoring, so each dot product runs once. Same output shape as
    knn_bruteforce."""
    tables = [
        _hyperplanes(dim, n_planes, seed + 1000 * t) for t in range(n_tables)
    ]
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    ).select(
        "neighbor_id",
        "c_vec",
        F.explode(_table_buckets(F.col("c_vec"), tables)).alias("bucket"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    ).select(
        "query_id",
        "q_vec",
        F.explode(_table_buckets(F.col("q_vec"), tables)).alias("bucket"),
    )
    cands = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "q_vec", "neighbor_id", "c_vec")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cands.withColumn("sim", cosine(F.col("q_vec"), F.col("c_vec")))
    w = W.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def embedding_near_dups(
    embs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_col: str = "label",
    threshold: float = 0.9,
    bucket_block_cap: int = 1024,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within coarse buckets
    (IVF-style: the bucket column bounds the pair space; at scale the
    bucket is a k-means cell id).

    ``bucket_block_cap`` (r13): a dominant k-means cell is the REALISTIC
    hot-bucket case (cluster sizes are power-law on web corpora), and
    the per-pair cosine is far heavier than the simhash bit_count —
    buckets above the cap are subdivided block-matrix style
    (dedup._bucket_block_cells), so the worst join key is bounded at
    cap^2 cosines; output-identical by construction."""
    from .dedup import _cell_self_join

    parts = embs.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        F.col(bucket_col).alias("bucket"),
    )
    # cosine is symmetric, so the helper's join-side payload
    # orientation needs no re-orienting; one bucket per id means no
    # cross-bucket duplicates to drop.
    # r16: candidates+verify INSIDE the operator — the gated expression
    # (see :func:`gated_exact_sim`) runs the vectorized cosine_hat
    # prefilter on every candidate pair (~1.0 M at sf0.1) and the exact
    # sequential-fold cosine only on its survivors (~2 k); output
    # identical by the one-sided bound, and the emitted `sim` is still
    # the oracle-exact fold.
    return (
        _cell_self_join(parts, bucket_block_cap)
        .select(
            "id_a",
            "id_b",
            "bucket",
            gated_exact_sim(
                F.col("vec_a"), F.col("vec_b"), threshold
            ).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )


def _ivf_features(c: DataFrame) -> DataFrame:
    """Corpus vectors as an ml-Vector feature column for the quantizer."""
    from pyspark.ml.functions import array_to_vector

    return c.select(
        "neighbor_id",
        array_to_vector(
            F.transform("c_vec", lambda x: x.cast("double"))
        ).alias("features"),
    )


def _ivf_train_set(feat: DataFrame, train_max: int, seed: int) -> DataFrame:
    """Seeded, bounded k-means training set without a full-corpus
    pre-count. The size probe is ``limit(train_max + 1).count()`` —
    CollectLimit early-exits after at most train_max+1 rows (it runs one
    partition, then scales up only if short), so the probe cost is
    O(train_max) regardless of corpus size, unlike the eager full
    ``count()`` this replaces (round-4 advice). Small corpora train on
    everything in their ORIGINAL layout (k-means|| init is
    partition-layout-sensitive; preserving layout keeps centroids
    reproducible). Large corpora take the hash-order top-``train_max``:
    ``orderBy(hash).limit(n)`` plans as TakeOrderedAndProject
    (per-partition heaps + merge) — one pass, O(train_max) task memory,
    no sampling variance, layout-independent result."""
    if feat.limit(train_max + 1).count() <= train_max:
        return feat
    h = F.xxhash64(F.col("neighbor_id").cast("string"), F.lit(seed))
    # repartition the (≤train_max-row) result by id so the k-means||
    # init sees a deterministic multi-partition layout rather than the
    # single hash-ordered partition TakeOrderedAndProject emits
    return (
        feat.orderBy(h, F.col("neighbor_id"))
        .limit(train_max)
        .repartition(8, F.col("neighbor_id"))
    )


def _fit_quantizer(c: DataFrame, n_cells: int, seed: int, train_max: int):
    """Sample-trained k-means coarse quantizer, shared by knn_ivf and
    kmeans_cells (semdedup) — one definition so a tuning change cannot
    silently diverge the two. Returns (model, full feature frame)."""
    from pyspark.ml.clustering import KMeans

    feat = _ivf_features(c)
    train = _ivf_train_set(feat, train_max=train_max, seed=seed)
    km = KMeans(k=n_cells, seed=seed, maxIter=10, featuresCol="features").fit(train)
    return km, feat


def knn_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    train_max: int = 4096,
) -> DataFrame:
    """IVF-style ANN: a k-means coarse quantizer partitions the corpus
    into ``n_cells`` inverted lists; each query probes its ``n_probe``
    nearest centroids and scores only those cells' vectors.

    Scale shape: the quantizer trains on a seeded sample capped at
    ``train_max`` rows (see :func:`_ivf_train_set`) — centroid fitting
    never does a multi-pass over the full corpus; only the single-pass
    cell ASSIGNMENT touches every vector. The probe join hits
    ~n_probe/n_cells of the corpus — at 100 TB the inverted lists are
    what you'd persist partitioned-by-cell so a probe is a partition-
    pruned scan, not a full pass. Approximate by construction (centroid
    placement decides recall): no SQL oracle; recall vs knn_bruteforce
    is asserted in tests.
    """
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    km, feat = _fit_quantizer(c, n_cells, seed, train_max)
    assigned = (
        km.transform(feat)
        .select("neighbor_id", F.col("prediction").alias("cell"))
        .join(c, "neighbor_id")
    )
    centers = [
        (i, [float(x) for x in ctr]) for i, ctr in enumerate(km.clusterCenters())
    ]
    cdf = local_frame(queries.sparkSession, centers, "cell int, centroid array<double>")
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    # probe ranking by euclidean distance (the quantizer's own geometry)
    dist2 = F.aggregate(
        F.zip_with(
            F.transform("q_vec", lambda x: x.cast("double")),
            F.col("centroid"),
            lambda x, c_: (x - c_) * (x - c_),
        ),
        F.lit(0.0),
        lambda s, x: s + x,
    )
    wp = W.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("cell"))
    probes = (
        q.crossJoin(F.broadcast(cdf))
        .withColumn("d2", dist2)
        .withColumn("pr", F.row_number().over(wp))
        .filter(F.col("pr") <= n_probe)
        .select("query_id", "q_vec", "cell")
    )
    cands = (
        assigned.join(F.broadcast(probes), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )
    scored = cands.withColumn("sim", cosine(F.col("q_vec"), F.col("c_vec")))
    w = W.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def ivf_topk_seeded(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    coarse_seed: str = "ivf",
) -> DataFrame:
    """IVF ANN with the seeded CLOSED-FORM coarse quantizer
    (:func:`_pq_codebook`'s deterministic center pick — the n_cells
    corpus vectors with smallest seeded hash) and EXACT cosine scoring
    of the probed cells' vectors. Same inverted-list read path as
    :func:`knn_ivf`, but every stage is deterministic closed-form, so
    the whole search is oracle-hash-checkable end to end; swapping in
    k-means centers (:func:`knn_ivf`, recall-contract-tested) changes
    the tiny center frame, not the plan shape.

    Scale shape identical to knn_ivf: centers and probes broadcast, one
    corpus pass for cell assignment, the probe join touches
    ~n_probe/n_cells of the corpus; at 100 TB the (cell -> vectors)
    table persists partitioned by cell so a probe is a partition-pruned
    scan. Output (query_id, neighbor_id, sim, rnk)."""
    coarse = _pq_codebook(corpus, id_col, vec_col, n_cells, coarse_seed)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    cells = (
        c.crossJoin(F.broadcast(coarse))
        .select(
            "neighbor_id",
            "c_vec",
            F.struct(
                _full_l2(F.col("c_vec"), F.col("cvec")).alias("d"),
                F.col("cid").alias("cell"),
            ).alias("s"),
        )
        .groupBy("neighbor_id", "c_vec")
        .agg(F.min("s").alias("b"))
        .select("neighbor_id", "c_vec", F.col("b.cell").alias("cell"))
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    qw = W.partitionBy("query_id").orderBy(F.asc("qd"), F.asc("cell"))
    probes = (
        q.crossJoin(F.broadcast(coarse))
        .select(
            "query_id",
            "q_vec",
            F.col("cid").alias("cell"),
            _full_l2(F.col("q_vec"), F.col("cvec")).alias("qd"),
        )
        .withColumn("prn", F.row_number().over(qw))
        .filter(F.col("prn") <= n_probe)
        .select("query_id", "q_vec", "cell")
    )
    cands = (
        cells.join(F.broadcast(probes), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )
    scored = cands.withColumn("sim", cosine(F.col("q_vec"), F.col("c_vec")))
    w = W.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "sim", "rnk")
    )


def embedding_near_dups_lsh(
    embs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    dim: int = 64,
    n_planes: int = 8,
    n_tables: int = 8,
    seed: int = 42,
    pre_dedup: bool | str = "auto",
    bucket_block_cap: int = 1024,
) -> DataFrame:
    """Embedding-cosine near-dup pairs with LSH candidate blocking —
    no side-channel bucket column (cf. :func:`embedding_near_dups`,
    which blocks on a provided coarse label): candidates are pairs
    colliding in ANY of ``n_tables`` random-hyperplane tables, then
    verified with exact cosine >= threshold. For cos >= 0.9 the
    per-plane collision prob is ~0.86, so 8 planes x 8 tables gives
    ~0.94 pair recall while scanning a tiny fraction of the O(n^2)
    pair space. Candidate generation is linear in corpus size — the
    100 TB shape.

    ``pre_dedup`` (default "auto": an HLL duplicate-fraction probe
    decides, same policy as dedup._should_pre_dedup — collapse costs a
    vector shuffle, so it must earn its keep): bit-identical vectors
    are collapsed to
    one representative BEFORE hashing/blocking, and family membership is
    expanded back algebraically afterwards — within-family pairs emit
    directly (their cosine is a per-family constant), cross-family rep
    pairs fan out to member pairs. Semantics are unchanged (identical
    vectors always collide in every table, so the original would find
    exactly these pairs, at quadratic cost). Motivation: the round-5
    10x scaling spot-check (BENCH_sf1_spotcheck.json) showed 133x cost
    growth on a 10x corpus whose replicas share vectors — bucket joins
    and cosine verification were quadratic in duplicate-family size.
    With pre-dedup the heavy path sees only unique vectors; only the
    final (output-sized) expansion scales with family size.

    ``bucket_block_cap`` (r13 ADVICE: was hardcoded at 1024, unlike the
    three sibling bucket self-joins): buckets hotter than the cap are
    subdivided block-matrix style — see dedup._cell_self_join; the
    cap-independence gate forces a tiny cap to prove output identity."""
    tables = [
        _hyperplanes(dim, n_planes, seed + 1000 * t) for t in range(n_tables)
    ]
    e = embs.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    if pre_dedup == "auto":
        from .dedup import _should_pre_dedup

        pre_dedup = _should_pre_dedup(e, F.md5(F.col("vec").cast("string")))
    within = None
    if pre_dedup:
        groups = (
            e.groupBy("vec")
            .agg(
                F.min("id").alias("rep_id"),
                F.array_sort(F.collect_list("id")).alias("members"),
            )
            .persist()
        )
        fam = groups.filter(F.size("members") >= 2)
        within = (
            fam.select(
                "vec", F.posexplode("members").alias("_i", "w_a"), F.col("members")
            )
            .select(
                F.col("w_a").alias("id_a"),
                F.explode(
                    F.slice(F.col("members"), F.col("_i") + 2, F.size("members"))
                ).alias("id_b"),
                cosine(F.col("vec"), F.col("vec")).alias("sim"),
            )
            # Same verification predicate every other pair gets, so
            # pre_dedup=True is strictly equivalent to pre_dedup=False:
            # duplicate all-zero vectors yield sim = 0/0 (null) and
            # cosine(v,v) can round below a threshold of exactly 1.0 —
            # both cases the uncollapsed path would drop.
            .filter(F.col("sim") >= threshold)
        )
        members = groups.select("rep_id", "members")
        e = groups.select(F.col("rep_id").alias("id"), "vec")
    bucketed = e.select(
        "id", "vec", F.explode(_table_buckets(F.col("vec"), tables)).alias("bucket")
    )
    # cell-keyed self-join (r13, shared hot-bucket de-skew — see
    # dedup._cell_self_join): a dominant direction in the corpus
    # concentrates vectors in one table bucket; the cell join bounds
    # every key at bucket_block_cap^2 candidate pairs, output-identical.
    # vec_a/vec_b need not follow the id normalization — cosine is
    # symmetric; dropDuplicates collapses multi-table collisions.
    from .dedup import _cell_self_join

    # Prefilter placement, re-adjudicated at r17 (r16 VERDICT #1 asked
    # for dedup-first "or an A/B table justifying the reverse"; this is
    # that table, plans/r17 + OPTIMIZATION_r17.md). The cosine_hat
    # prefilter runs BEFORE dropDuplicates: it is a deterministic
    # symmetric function of the (identical-per-pair) vectors, so every
    # multi-table copy of a pair passes or fails together and the
    # surviving pair set is unchanged — and only survivors' ~2 k vector
    # payloads cross the dedup exchange (guide §2.3). The dedup-FIRST
    # alternative (one UDF eval per unique pair) was implemented and
    # measured same-host/same-minute at r17: it ships EVERY candidate
    # pair's 2x64-double payload through the exchange and lost decisively
    # (warm 3-rep medians, sf0.1: entry 2.0 -> 4.28 s, contract 3.87 ->
    # 16.47 s). Per-copy UDF evals are vectorized flops; per-copy
    # exchange rows are serialized bytes — the flops are cheaper. The
    # r16 driver-bench "regression" (1.94 -> 4.16 s) was host
    # contention: the same tree's uncontended c8 run shows 2.34 s
    # (BENCH_r16_c8.json), matching the warm wall of this shape.
    cands = (
        _cell_self_join(bucketed, bucket_block_cap)
        .select("id_a", "vec_a", "id_b", "vec_b")
        .filter(
            cosine_hat(F.col("vec_a"), F.col("vec_b"))
            >= F.lit(float(threshold) - _HAT_EPS)
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    rep_pairs = (
        cands.withColumn("sim", cosine(F.col("vec_a"), F.col("vec_b")))
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
    )
    if within is None:
        return rep_pairs
    # expand representative pairs to member pairs (id_a < id_b preserved
    # by least/greatest; sim is identical for every member combination
    # because members share the representative's exact vector)
    ma = members.select(
        F.col("rep_id").alias("id_a"), F.col("members").alias("_ma")
    )
    mb = members.select(
        F.col("rep_id").alias("id_b"), F.col("members").alias("_mb")
    )
    cross = (
        rep_pairs.join(ma, "id_a")
        .join(mb, "id_b")
        .select(F.explode("_ma").alias("ea"), F.col("_mb"), "sim")
        .select("ea", F.explode("_mb").alias("eb"), "sim")
        .select(
            F.least("ea", "eb").alias("id_a"),
            F.greatest("ea", "eb").alias("id_b"),
            "sim",
        )
    )
    return cross.unionByName(within)


def kmeans_cells(
    embs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    seed: int = 42,
    train_max: int = 4096,
) -> DataFrame:
    """(id, cell): sample-trained k-means coarse partitioning of the
    corpus — the quantizer of knn_ivf exposed as a standalone op (fit on
    a bounded seeded sample, one-pass assignment)."""
    c = embs.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    km, feat = _fit_quantizer(c, n_cells, seed, train_max)
    return km.transform(feat).select(
        F.col("neighbor_id").alias(id_col),
        F.col("prediction").cast("long").alias("cell"),
    )


def semdedup(
    embs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_cells: int = 16,
    seed: int = 42,
    train_max: int = 4096,
) -> DataFrame:
    """Semantic dedup, the SemDeDup pipeline shape (Abbas et al. 2023,
    arXiv:2303.09540): k-means cells bound the pair space, pairs within
    a cell are verified with exact cosine >= threshold, connected
    components canonicalize duplicate groups, and only the min-id
    representative of each group is kept.

    Returns (id, cluster_id, keep). Precision is 1.0 by construction —
    every removal is justified by a chain of exactly-verified pairs;
    cell blocking only costs recall (cross-cell near-dups survive),
    which the registry contract bounds on the planted corpus. At 100 TB
    every stage is bounded: sample-trained quantizer, per-cell pair
    space, O(log n) component rounds."""
    from .dedup import dup_clusters

    cells = kmeans_cells(embs, id_col, vec_col, n_cells, seed, train_max)
    with_cells = embs.join(cells, id_col)
    pairs = embedding_near_dups(
        with_cells, id_col, vec_col, bucket_col="cell", threshold=threshold
    ).select("id_a", "id_b")
    clusters = dup_clusters(pairs)
    return (
        embs.select(F.col(id_col).alias("id"))
        .join(clusters, "id", "left")
        .select(
            "id",
            F.coalesce("cluster_id", F.col("id")).alias("cluster_id"),
        )
        .withColumn("keep", F.col("cluster_id") == F.col("id"))
    )


def _pq_sub_dist2() -> Column:
    """Squared L2 between the `sv` and `cv` subvector columns — the
    fixed-order fold both pq_codes and the ADC LUT share."""
    return F.aggregate(
        F.zip_with(
            F.col("sv"),
            F.col("cv"),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda s, x: s + x,
    )


def _pq_codebook(
    embs: DataFrame, id_col: str, vec_col: str, ksub: int, seed: str
) -> DataFrame:
    """The seeded closed-form codebook: the ``ksub`` corpus vectors with
    smallest (md5(seed || id), id), numbered cid 1..ksub in that order.
    Deterministic, so every caller reconstructs the identical table."""
    e = embs.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    picked = (
        e.orderBy(
            F.md5(F.concat(F.lit(seed + "|"), F.col("id").cast("string"))),
            F.col("id"),
        )
        .limit(ksub)
        .collect()
    )
    return local_frame(
        embs.sparkSession,
        [(i + 1, list(r["vec"])) for i, r in enumerate(picked)],
        "cid long, cvec array<float>",
    )


def _pq_assign(
    embs: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    m: int,
    ksub: int,
    seed: str,
    cent: DataFrame | None = None,
) -> DataFrame:
    """Per-(vector, subspace) nearest-centroid assignment: (id, j,
    b.cid, b.dist) with b = min(struct(dist, cid)). Shared by pq_codes
    (pivots to code columns) and pq_adc_topk (joins the LUT); pass a
    precomputed ``cent`` to avoid re-running the codebook's corpus-wide
    TakeOrdered + collect."""
    sub = dim // m
    e = embs.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    if cent is None:
        cent = _pq_codebook(embs, id_col, vec_col, ksub, seed)
    js = F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("j")
    e_sub = e.select("id", "vec", js).select(
        "id", "j", F.expr(f"slice(vec, j * {sub} + 1, {sub})").alias("sv")
    )
    c_sub = cent.select("cid", "cvec", js).select(
        "cid", "j", F.expr(f"slice(cvec, j * {sub} + 1, {sub})").alias("cv")
    )
    return (
        e_sub.join(F.broadcast(c_sub), "j")
        .select("id", "j", "cid", _pq_sub_dist2().alias("dist"))
        .groupBy("id", "j")
        .agg(F.min(F.struct("dist", "cid")).alias("b"))
    )


def pq_codes(
    embs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 4,
    ksub: int = 8,
    seed: str = "pq",
) -> DataFrame:
    """Product-quantization codes — the vector-COMPRESSION leg of the
    ANN family (IVF gives the coarse partition, PQ gives the in-cell
    codes; together they are the standard FAISS IVF-PQ layout). Each
    vector splits into ``m`` subvectors of dim/m dims; subspace j's code
    is the index of the nearest of ``ksub`` codebook centroids under
    squared L2. Returns (id, code0..code{m-1}, qerr) with qerr the total
    quantization error (fixed-order double sum, engine-exact).

    Codebook: the subvectors of the ``ksub`` corpus vectors with
    smallest (md5(seed || id), id) — the same seeded deterministic
    selection discipline as the IVF quantizer's training sample
    (:func:`_ivf_train_set`), with zero Lloyd iterations so the whole
    operator (selection included) is closed-form and oracle-exact.
    Swapping in k-means-trained centroids changes ONE tiny frame, not
    the plan shape. Selection plans as TakeOrderedAndProject (ksub
    rows), the codebook broadcasts, and encoding is one narrow pass
    over the corpus + a (corpus x m x ksub) broadcast-join scored
    distributively — no shuffle of the vectors at any point; the only
    exchange is the per-(id, subspace) argmin aggregation."""
    best = _pq_assign(embs, id_col, vec_col, dim, m, ksub, seed)
    code_cols = [
        F.max(F.when(F.col("j") == j, F.col("b.cid"))).alias(f"code{j}")
        for j in range(m)
    ]
    err_cols = [
        F.max(F.when(F.col("j") == j, F.col("b.dist"))).alias(f"_d{j}")
        for j in range(m)
    ]
    wide = best.groupBy("id").agg(*code_cols, *err_cols)
    qerr = F.col("_d0")
    for j in range(1, m):
        qerr = qerr + F.col(f"_d{j}")
    return wide.select(
        "id", *[f"code{j}" for j in range(m)], qerr.alias("qerr")
    )


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 4,
    ksub: int = 8,
    seed: str = "pq",
    k: int = 5,
) -> DataFrame:
    """Top-k search over PQ codes with ASYMMETRIC distance computation
    (Jégou et al. 2011, "Product Quantization for Nearest Neighbor
    Search" §III-B) — the production 100 TB vector-search read path:
    corpus vectors exist only as m small codes; per query, a lookup
    table of (subspace, centroid) -> squared-L2 partials is built
    against the UNCOMPRESSED query, and each corpus vector's distance
    is m table lookups summed — never a dim-length arithmetic pass.

    ADC identity (the property test's contract): the score equals the
    exact squared L2 between the query and the vector's RECONSTRUCTION
    (its per-subspace centroids concatenated), because squared L2
    decomposes over the orthogonal subspace split.

    Scale shape: the LUT is (|Q| * m * ksub) rows — broadcast; the
    corpus side is the (id, j, cid) code table, joined to the LUT by
    (j, cid) as a narrow broadcast probe; the only exchange is the
    (id, query_id) partial-sum aggregation (m rows in, 1 out,
    map-side combined). Partial sums pivot to fixed j order before the
    final add so the double arithmetic is engine-exact, like pq_codes'
    qerr. Top-k ranking reuses the brute-force window discipline
    (per-query ranking; queries are a bounded literal set, cf.
    :func:`knn_bruteforce`). Output: (query_id, neighbor_id, adc_dist,
    rnk); self-matches excluded, ties to the smaller neighbor id."""
    sub = dim // m
    cent = _pq_codebook(corpus, id_col, vec_col, ksub, seed)
    codes = _pq_assign(corpus, id_col, vec_col, dim, m, ksub, seed, cent).select(
        F.col("id").alias("neighbor_id"), "j", F.col("b.cid").alias("cid")
    )
    js = F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("j")
    q_sub = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    ).select("query_id", "qvec", js).select(
        "query_id", "j", F.expr(f"slice(qvec, j * {sub} + 1, {sub})").alias("sv")
    )
    c_sub = cent.select("cid", "cvec", js).select(
        "cid", "j", F.expr(f"slice(cvec, j * {sub} + 1, {sub})").alias("cv")
    )
    lut = q_sub.join(F.broadcast(c_sub), "j").select(
        "query_id", "j", "cid", _pq_sub_dist2().alias("dist")
    )
    parts = codes.join(F.broadcast(lut), ["j", "cid"]).select(
        "neighbor_id", "query_id", "j", "dist"
    )
    d_cols = [
        F.max(F.when(F.col("j") == j, F.col("dist"))).alias(f"_d{j}")
        for j in range(m)
    ]
    wide = parts.groupBy("neighbor_id", "query_id").agg(*d_cols)
    adc = F.col("_d0")
    for j in range(1, m):
        adc = adc + F.col(f"_d{j}")
    scored = wide.select(
        "query_id", "neighbor_id", adc.alias("adc_dist")
    ).filter(F.col("neighbor_id") != F.col("query_id"))
    w = W.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "adc_dist", "rnk")
    )


def _full_l2(a: Column, b: Column) -> Column:
    """Squared L2 between two full vectors (fixed-order fold)."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda s, x: s + x,
    )


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 4,
    ksub: int = 8,
    n_cells: int = 16,
    n_probe: int = 4,
    k: int = 5,
    seed: str = "pq",
    coarse_seed: str = "ivf",
) -> DataFrame:
    """The composed FAISS IVFADC layout (Jégou et al. 2011 §IV): a
    coarse quantizer prunes the corpus to each query's ``n_probe``
    nearest cells, and ADC over PQ codes scores ONLY those cells'
    vectors — the candidate count drops to ~n_probe/n_cells of the
    corpus before any distance work happens.

    Both quantizers here are the repo's seeded closed-form selection
    (:func:`_pq_codebook` — the n_cells/ksub corpus vectors with
    smallest seeded hash), so the WHOLE search is deterministic and
    oracle-hash-checkable end to end; swapping in k-means centers
    (:func:`kmeans_cells`) or residual encoding (FAISS's refinement:
    PQ over x - coarse_center, tighter ADC at the cost of per-cell
    LUTs) changes the tiny center frames, not the plan shape.

    Composition identity (property-tested): within a query's probed
    cells, scores and ordering are EXACTLY those of
    :func:`pq_adc_topk` on the cell-restricted corpus — pruning
    changes WHICH candidates are scored, never HOW.

    Scale shape: centers and probes broadcast; the corpus-side work is
    the one-pass cell assignment + code table, and the probe join
    prunes BEFORE the LUT join, so partial sums aggregate over probed
    candidates only. At 100 TB the (cell -> codes) table is what you
    persist partitioned by cell: a probe is then a partition-pruned
    scan."""
    coarse = _pq_codebook(corpus, id_col, vec_col, n_cells, coarse_seed)
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("vec"))
    cells = (
        c.crossJoin(F.broadcast(coarse))
        .select(
            "neighbor_id",
            F.struct(_full_l2(F.col("vec"), F.col("cvec")).alias("d"), F.col("cid").alias("cell")).alias("s"),
        )
        .groupBy("neighbor_id")
        .agg(F.min("s").alias("b"))
        .select("neighbor_id", F.col("b.cell").alias("cell"))
    )
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
    qw = W.partitionBy("query_id").orderBy(F.asc("qd"), F.asc("cell"))
    probes = (
        q.crossJoin(F.broadcast(coarse))
        .select(
            "query_id",
            F.col("cid").alias("cell"),
            _full_l2(F.col("qvec"), F.col("cvec")).alias("qd"),
        )
        .withColumn("prn", F.row_number().over(qw))
        .filter(F.col("prn") <= n_probe)
        .select("query_id", "cell")
    )
    sub = dim // m
    cent = _pq_codebook(corpus, id_col, vec_col, ksub, seed)
    codes = _pq_assign(corpus, id_col, vec_col, dim, m, ksub, seed, cent).select(
        F.col("id").alias("neighbor_id"), "j", F.col("b.cid").alias("cid")
    )
    js = F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("j")
    q_sub = q.select("query_id", "qvec", js).select(
        "query_id", "j", F.expr(f"slice(qvec, j * {sub} + 1, {sub})").alias("sv")
    )
    c_sub = cent.select("cid", "cvec", js).select(
        "cid", "j", F.expr(f"slice(cvec, j * {sub} + 1, {sub})").alias("cv")
    )
    lut = q_sub.join(F.broadcast(c_sub), "j").select(
        "query_id", "j", "cid", _pq_sub_dist2().alias("dist")
    )
    # prune FIRST (cell probe), then look up distances — candidate rows
    # are probed-cell only before any LUT work
    cand = codes.join(cells, "neighbor_id").join(F.broadcast(probes), "cell")
    parts = cand.join(F.broadcast(lut), ["query_id", "j", "cid"]).select(
        "neighbor_id", "query_id", "j", "dist"
    )
    d_cols = [
        F.max(F.when(F.col("j") == j, F.col("dist"))).alias(f"_d{j}")
        for j in range(m)
    ]
    wide = parts.groupBy("neighbor_id", "query_id").agg(*d_cols)
    adc = F.col("_d0")
    for j in range(1, m):
        adc = adc + F.col(f"_d{j}")
    scored = wide.select(
        "query_id", "neighbor_id", adc.alias("adc_dist")
    ).filter(F.col("neighbor_id") != F.col("query_id"))
    w = W.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "adc_dist", "rnk")
    )

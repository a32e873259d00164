"""Count-min sketch over token frequencies (Cormode & Muthukrishnan
2005) — the bounded-state frequency estimator for 100 TB corpora and
unbounded streams: the sketch is a fixed (depth x width) counter grid
no matter how large the corpus or vocabulary grows, it merges by cell
addition (partitions, streams, days — anything), and any token's count
is answered with ``min`` over its depth cells, an overestimate by at
most the collision mass (the CMS guarantee: est >= true always;
est <= true + eps*N with prob 1-delta for w = e/eps, d = ln(1/delta)).

Contrast with the exact path (llm/text.py token stats): an exact token
count is a vocabulary-sized shuffle; the sketch is a WIDTH*DEPTH-sized
aggregation state — in streaming update mode the state store holds at
most w*d keys BY CONSTRUCTION, the difference between bounded and
unbounded state at 100 TB ingest.

Engine-exact determinism: cell indexes are md5-derived (the repo-wide
portable hash — functions shared with llm/text.py::_u32), so Spark and
the DuckDB oracle compute bit-identical sketches and estimates; no RNG,
no JVM hashCode.

Reference analog: the per-key keyed state of the DWS aggregations
(dws/VisitorStatsApp.java windows) — accumulate-and-merge state; here
the state is the sketch grid instead of per-key counters, which is
what changes O(vocabulary) state into O(1).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..sources.io import local_frame
from .text import _toks_or_empty, _u32

CMS_WIDTH = 1024
CMS_DEPTH = 4
CMS_SEED = "cms"


def _cms_bucket(token: Column, rw: Column, width: int, seed: str) -> Column:
    """Row-seeded cell index for a token: u32(md5(seed|row|token)) % w."""
    return (
        _u32(F.concat(F.lit(seed + "|"), rw.cast("string"), F.lit("|"), token))
        % width
    )


def _cms_cells(token: Column, width: int, depth: int, seed: str) -> Column:
    """The token's ``depth`` (rw, bucket) cells as one explodable array —
    the single place the cell derivation lives (sketch build and point
    queries must agree bit-for-bit or estimates silently break)."""
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(r).cast("long").alias("rw"),
                    _cms_bucket(token, F.lit(r), width, seed).alias("bucket"),
                )
                for r in range(depth)
            ]
        )
    )


def gram_cms(
    df: DataFrame,
    grams: Column,
    width: int = CMS_WIDTH,
    depth: int = CMS_DEPTH,
    seed: str = CMS_SEED,
) -> DataFrame:
    """CMS over an arbitrary ``array<string>`` gram column (tokens,
    bigrams, shingles — anything): (rw, bucket, cnt), at most
    ``width * depth`` rows regardless of corpus size. One narrow
    explode (gram -> ``depth`` cells) and ONE aggregation whose key
    space is the fixed grid, so the map-side combine collapses
    everything to w*d rows per task before the (tiny) shuffle.
    Sketches over corpus shards merge by summing cnt on (rw, bucket)."""
    g = F.explode(grams).alias("token")
    cells = df.select(g).select(
        _cms_cells(F.col("token"), width, depth, seed).alias("c")
    )
    return (
        cells.select("c.rw", "c.bucket")
        .groupBy("rw", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def token_cms(
    df: DataFrame,
    text_col: str = "text",
    width: int = CMS_WIDTH,
    depth: int = CMS_DEPTH,
    seed: str = CMS_SEED,
) -> DataFrame:
    """The token-frequency sketch: ``gram_cms`` over the tokenizer's
    array (the original surface; see gram_cms for the state story)."""
    return gram_cms(df, _toks_or_empty(text_col), width, depth, seed)


def _guarded_cells(
    sketch: DataFrame, width: int, depth: int
) -> DataFrame:
    """The sketch with every row's (rw, bucket) range-checked IN THE
    PLAN (r7 ADVICE): a sketch built with a LARGER grid than the probe
    expects puts cells outside [0, depth) x [0, width), and probing it
    silently returns est=0 for nearly every token (wrong cells -> no
    match -> "everything is rare"). The guard is folded into the cnt
    column itself so column pruning can't drop it, and it costs no
    extra action — rows are checked as the (grid-sized) sketch is read.
    A sketch built with a SMALLER grid is undetectable from cell ranges
    alone; use save_sketch/load_sketch for full-parameter validation."""
    bad = (
        (F.col("rw") < 0)
        | (F.col("rw") >= depth)
        | (F.col("bucket") < 0)
        | (F.col("bucket") >= width)
    )
    msg = F.concat(
        F.lit(
            "CMS sketch/probe parameter mismatch: cell (rw="
        ),
        F.col("rw").cast("string"),
        F.lit(", bucket="),
        F.col("bucket").cast("string"),
        F.lit(
            f") outside the probe grid depth={depth} width={width} — "
            "the sketch was built with different (width, depth); "
            "rebuild it or probe with the build-time parameters"
        ),
    )
    return sketch.select(
        "rw",
        "bucket",
        F.when(bad, F.raise_error(msg).cast("long"))
        .otherwise(F.col("cnt"))
        .alias("cnt"),
    )


def cms_estimate(
    sketch: DataFrame,
    candidates: DataFrame,
    token_col: str = "token",
    width: int = CMS_WIDTH,
    depth: int = CMS_DEPTH,
    seed: str = CMS_SEED,
) -> DataFrame:
    """Point-query estimates for a candidate token set: est = min over
    the token's ``depth`` cells (missing cell -> 0). The sketch is
    grid-sized, so it BROADCASTS to the candidate probe — estimating
    any number of candidates never shuffles anything corpus-sized.
    Sketch cells are range-validated in the plan (see _guarded_cells)."""
    sketch = _guarded_cells(sketch, width, depth)
    probes = candidates.select(F.col(token_col).alias("token")).select(
        "token",
        _cms_cells(F.col("token"), width, depth, seed).alias("c"),
    ).select("token", "c.rw", "c.bucket")
    joined = probes.join(F.broadcast(sketch), ["rw", "bucket"], "left")
    return joined.groupBy("token").agg(
        F.min(F.coalesce(F.col("cnt"), F.lit(0))).cast("long").alias("cms_est")
    )


def rare_token_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sketch: DataFrame | None = None,
    min_freq: int = 5,
    width: int = CMS_WIDTH,
    depth: int = CMS_DEPTH,
    seed: str = CMS_SEED,
) -> DataFrame:
    """Per-document rarity scoring against the sketch — the sketch used
    as a DIMENSION: every token occurrence is classified rare/common by
    its corpus-frequency ESTIMATE, never by a vocabulary-sized exact
    count. Output (id, n_tokens, n_rare, rare_frac); docs dominated by
    rare tokens (high rare_frac) are the gibberish/misspelling signal a
    curation pipeline thresholds on (the corpus-relative cousin of the
    Gopher rules' absolute thresholds).

    ``sketch`` defaults to the corpus's own sketch (self-relative
    rarity); pass a persisted one (DimStore table, yesterday's crawl)
    to score a NEW batch against a REFERENCE corpus — the grid is
    fixed-size, so the reference side broadcasts no matter how big the
    corpus it summarizes was. This is the S11 cache-aside replacement
    shape (broadcast dim re-read per batch) with the dim being a
    sketch instead of a table — which is exactly what makes it work
    when the 'dimension' is a 100 TB corpus's token statistics.

    Note the CMS one-sidedness direction: estimates only OVERcount, so
    a token can only look MORE common than it is — rare_frac is a
    conservative (under-)estimate of the true rare fraction; collisions
    never flag a common token as rare."""
    if sketch is None:
        sketch = token_cms(df, text_col, width, depth, seed)
    else:
        # externally persisted sketch: range-check its cells in the plan
        # (r7 ADVICE — a grid mismatch otherwise silently scores nearly
        # every token rare); full-parameter validation incl. seed is
        # load_sketch's job
        sketch = _guarded_cells(
            sketch.select("rw", "bucket", "cnt"), width, depth
        )
    toks = F.explode(_toks_or_empty(text_col)).alias("token")
    occ = (
        df.select(F.col(id_col).alias("id"), toks)
        .groupBy("id", "token")
        .agg(F.count(F.lit(1)).alias("occ"))
    )
    # probe the GRID-sized sketch per (doc, token) — only the sketch
    # broadcasts (w*d rows); a vocab-sized estimate table never
    # materializes, so nothing vocabulary-shaped is ever broadcast
    probes = occ.select(
        "id", "token", "occ", _cms_cells(F.col("token"), width, depth, seed).alias("c")
    ).select("id", "token", "occ", "c.rw", "c.bucket")
    joined = (
        probes.join(F.broadcast(sketch), ["rw", "bucket"], "left")
        .groupBy("id", "token", "occ")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("cms_est"))
    )
    out = joined.groupBy("id").agg(
        F.sum("occ").cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("cms_est") < min_freq, F.col("occ")).otherwise(0))
        .cast("long")
        .alias("n_rare"),
    )
    # empty/NULL docs: no occurrence rows — restore them with zeros so
    # the output covers every input doc (fail-closed counting)
    all_ids = df.select(F.col(id_col).alias("id")).distinct()
    return (
        all_ids.join(out, "id", "left")
        .select(
            "id",
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("n_rare", F.lit(0)).cast("long").alias("n_rare"),
        )
        .withColumn(
            "rare_frac",
            F.coalesce(
                F.try_divide(
                    F.col("n_rare").cast("double"), F.col("n_tokens").cast("double")
                ),
                F.lit(0.0),
            ),
        )
    )


def save_sketch(
    store,
    table: str,
    sketch: DataFrame,
    width: int = CMS_WIDTH,
    depth: int = CMS_DEPTH,
    seed: str = CMS_SEED,
) -> None:
    """Persist a sketch into a DimStore WITH its build parameters
    (r7 ADVICE): each row carries (width, depth, seed) as constant
    columns, so a later probe can verify it was built with the grid it
    is about to assume — the cell-range guard alone cannot catch a
    smaller grid or a different hash seed (cells stay in range, the
    probe just reads the wrong cells and calls everything rare). The
    meta columns cost 3 constants on a w*d-row table — nothing at any
    scale. pk is the cell address, so re-saves upsert cell-wise."""
    keyed = (
        sketch.select("rw", "bucket", "cnt")
        .withColumn("width", F.lit(width).cast("long"))
        .withColumn("depth", F.lit(depth).cast("long"))
        .withColumn("seed", F.lit(seed))
        .withColumn(
            "_k",
            F.concat_ws(
                ":", F.col("rw").cast("string"), F.col("bucket").cast("string")
            ),
        )
    )
    store.upsert(table, keyed, pk="_k")


def load_sketch(
    store,
    table: str,
    width: int = CMS_WIDTH,
    depth: int = CMS_DEPTH,
    seed: str = CMS_SEED,
) -> DataFrame:
    """Read a persisted sketch, asserting its recorded build parameters
    match the requested (width, depth, seed) — the probe-time check the
    r7 ADVICE asked for. The distinct-meta collect runs over the
    grid-sized store table (<= w*d rows), a bounded driver round-trip."""
    df = store.read(table)
    metas = (
        df.select("width", "depth", "seed").distinct().limit(3).collect()
    )
    want = (width, depth, seed)
    got = sorted((r["width"], r["depth"], r["seed"]) for r in metas)
    if got != [want]:
        raise ValueError(
            f"persisted CMS sketch '{table}' was built with "
            f"(width, depth, seed) in {got}, probe expects {want} — "
            "estimates would probe the wrong cells; rebuild the sketch "
            "or probe with the recorded parameters"
        )
    return df.select("rw", "bucket", "cnt")


def cms_heavy_hitters(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 50,
    width: int = CMS_WIDTH,
    depth: int = CMS_DEPTH,
    seed: str = CMS_SEED,
) -> DataFrame:
    """Heavy hitters with the sketch as the filter and the exact count
    alongside: (token, cms_est, exact_cnt) for tokens whose ESTIMATE
    clears ``min_count``. The CMS one-sided guarantee (est >= exact,
    property-tested) means this can never MISS a true heavy hitter —
    collisions only admit extra candidates, which the exact column
    exposes. At 100 TB the demo's exact column is the part you drop
    (or compute only for the est-filtered survivors, which is exactly
    how this plan composes: the exact count joins AFTER the estimate
    filter, so it runs over the heavy candidates only)."""
    sketch = token_cms(df, text_col, width, depth, seed)
    toks = F.explode(_toks_or_empty(text_col)).alias("token")
    vocab = df.select(toks).distinct()
    est = cms_estimate(sketch, vocab, "token", width, depth, seed).filter(
        F.col("cms_est") >= min_count
    )
    exact = (
        df.select(toks)
        .join(F.broadcast(est.select("token")), "token")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
    )
    return est.join(exact, "token").select("token", "cms_est", "exact_cnt")


def local_heavy_candidates(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 50,
) -> DataFrame:
    """Scale-safe heavy-hitter CANDIDATE generation (VERDICT r7 ask #5):
    per-partition local counting with a pigeonhole threshold instead of
    a vocabulary-sized ``distinct``. A token whose TOTAL count is
    >= min_count must, across P partitions, reach >= ceil(min_count/P)
    in at least one of them — so emitting each partition's locally-heavy
    tokens (an Arrow-batched mapInPandas with NO exchange between the
    scan and the emit; plan-gated) yields a candidate set that provably
    contains every true heavy hitter while staying heavy-candidate-sized
    instead of vocabulary-sized. The local threshold uses floor rather
    than ceil (one unit of slack) so an adaptive runtime that re-splits
    the scan can't silently break the pigeonhole bound; per-partition
    memory is one local token->count dict — the same footprint a
    map-side hash aggregate would use.

    One-sided like the sketch itself: never misses a true heavy hitter,
    only admits extra locally-hot candidates for the estimate/exact
    stages to reject."""
    return _local_heavy_emit(df, text_col, min_count).distinct()


def _local_heavy_emit(
    df: DataFrame, text_col: str, min_count: int
) -> DataFrame:
    """The pre-distinct candidate emitter: scan -> explode ->
    mapInPandas, with NO exchange in between (the property the plan
    gate asserts — this frame's physical plan must be exchange-free)."""
    import pandas as pd  # noqa: PLC0415 — executor-side dependency

    toks = df.select(F.explode(_toks_or_empty(text_col)).alias("token"))
    # EXACT partition count, deliberately NOT the shared scan estimator
    # (r13 ADVICE, reversing the r12 nit fix): the pigeonhole bound is
    # recall-critical and strictly one-sided in the WRONG direction for
    # an underestimate — thresh = min_count // n_parts only guarantees
    # no-miss when n_parts >= the actual partition count, and the
    # estimator CAN undercount actual splits (remote-store files are
    # costed at openCostInBytes only, and greedy bin-packing
    # fragmentation can exceed ceil(total/maxSplitBytes)), which would
    # silently drop a real heavy hitter spread across partitions.
    # Touching .rdd finalizes the physical plan without AQE — harmless
    # on THIS frame (scan -> project/explode, exchange-free by the plan
    # gate below, so there is nothing for AQE to re-plan), and the
    # count it returns is the count mapInPandas actually runs with.
    # Overestimation elsewhere is safe (lower threshold = extra
    # candidates for the exact stage to reject); underestimation is
    # not, so exact wins here.
    n_parts = max(1, toks.rdd.getNumPartitions())
    thresh = max(1, min_count // n_parts)

    def emit(batches):
        counts: dict = {}
        for pdf in batches:
            for t, c in pdf["token"].value_counts().items():
                counts[t] = counts.get(t, 0) + int(c)
        yield pd.DataFrame(
            {"token": [t for t, c in counts.items() if c >= thresh]}
        )

    return toks.mapInPandas(emit, "token string")


def cms_heavy_hitters_scale(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 50,
    width: int = CMS_WIDTH,
    depth: int = CMS_DEPTH,
    seed: str = CMS_SEED,
) -> DataFrame:
    """Heavy hitters with a scale-safe candidate source: local-top-k
    candidates (pigeonhole no-miss, see local_heavy_candidates) ->
    sketch-estimate filter -> exact count over the survivors -> keep
    tokens whose EXACT count clears ``min_count``. Output
    (token, cms_est, exact_cnt) — exactly the true heavy hitters, with
    the (over-)estimate alongside for auditability.

    This closes the one 100 TB gap in cms_heavy_hitters: there the
    candidate set was the full vocabulary ``distinct`` (owned in its
    docstring); here nothing vocabulary-sized is ever exchanged — the
    scan feeds per-partition local counting directly, and every
    downstream exchange (candidate distinct, exact count) operates on
    locally-hot candidates only. Both one-sided guarantees compose:
    candidates ⊇ true heavies (pigeonhole), est >= exact (CMS), so the
    final exact filter returns the true heavy-hitter set precisely."""
    sketch = token_cms(df, text_col, width, depth, seed)
    cands = local_heavy_candidates(df, text_col, min_count)
    est = cms_estimate(sketch, cands, "token", width, depth, seed).filter(
        F.col("cms_est") >= min_count
    )
    toks = F.explode(_toks_or_empty(text_col)).alias("token")
    exact = (
        df.select(toks)
        .join(F.broadcast(est.select("token")), "token")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
    )
    return (
        est.join(exact, "token")
        .filter(F.col("exact_cnt") >= min_count)
        .select("token", "cms_est", "exact_cnt")
    )


# ---------------------------------------------------------------------------
# HyperLogLog register sketch — bounded-state DISTINCT counting (Flajolet
# et al. 2007), the scale substitute for the reference's unbounded UV
# keyed state (dwm/UniqueVisitApp.java:37-76 keeps one ValueState PER
# mid; the register grid keeps HLL_M integers PER GROUP no matter how
# many distinct users stream through — the same bounded-state discipline
# as the count-min grid, applied to the count-distinct problem).
#
# Engine-exact determinism: bucket and rank are md5-derived integers
# (bucket = u32('hllb|'||v) % m; rho = leading-zero rank of an
# INDEPENDENT u32('hllr|'||v), rendered as 33 - length(bin(y)) — exact
# in both engines). The raw estimate alpha_m * m^2 / sum(2^-rho) is
# also engine-exact: every 2^-rho term is a power of two in [2^-33, 1],
# so all partial sums are integer multiples of 2^-33 below 2^41 and
# float addition is EXACT in any order; the single division rounds
# identically. No small/large-range corrections (they need ln()): the
# raw estimate plus the zero-register count are emitted so a consumer
# can correct — and the repo's property test bounds the raw error
# directly at test cardinalities.
# ---------------------------------------------------------------------------

HLL_M = 256  # 2^8 buckets: ~6.5% standard error, 256 longs per group


def hll_alpha_m2(m: int = HLL_M) -> float:
    """alpha_m * m^2 (Flajolet et al. 2007, fig. 3) — computed in ONE
    place in Python and embedded as the same double literal in the
    Spark plan and the SQL oracle, so the two cannot drift."""
    alpha = 0.7213 / (1.0 + 1.079 / m)
    return alpha * m * m


def hll_registers(
    df: DataFrame,
    key_col: str,
    group_cols: list[str] | tuple = (),
    m: int = HLL_M,
) -> DataFrame:
    """The register table: (group..., bucket, rho) with at most ``m``
    rows per group regardless of how many distinct keys pass through.
    One narrow projection + one aggregation whose key space is the
    fixed grid (map-side combine collapses each task to <= m rows per
    group before the tiny shuffle). Sketches over shards/streams merge
    by MAX on (group, bucket) — max commutes, so the streaming
    update-mode rendering settles to exactly the batch table."""
    v = F.col(key_col).cast("string")
    bucket = _u32(F.concat(F.lit("hllb|"), v)) % m
    y = _u32(F.concat(F.lit("hllr|"), v))
    rho = (
        F.when(y == 0, F.lit(33))
        .otherwise(F.lit(33) - F.length(F.bin(y)))
        .cast("long")
    )
    return (
        df.select(*group_cols, bucket.alias("bucket"), rho.alias("rho"))
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rho").alias("rho"))
    )


def hll_estimate(
    registers: DataFrame,
    group_cols: list[str] | tuple = (),
    m: int = HLL_M,
) -> DataFrame:
    """Raw HLL estimate per group from a register table:
    (group..., v_zero, raw_est). Empty registers count as rho=0 (the
    2^0 = 1 term), restored by densifying against a broadcast m-row
    range per group — the grid is bounded, so this never touches
    anything data-sized. raw_est is engine-exact (see module note);
    v_zero (the linear-counting input) is emitted for consumers that
    want the small-range correction."""
    spark = registers.sparkSession
    grid = spark.range(m).select(F.col("id").cast("long").alias("bucket"))
    groups = registers.select(*group_cols).distinct()
    dense = groups.crossJoin(F.broadcast(grid)) if group_cols else grid
    joined = dense.join(registers, [*group_cols, "bucket"], "left").select(
        *group_cols,
        F.coalesce(F.col("rho"), F.lit(0)).cast("int").alias("rho"),
    )
    # F.shiftleft only takes a literal shift; the SQL form shifts by a
    # column (rho <= 33, so 1L << rho always fits a long)
    inv = F.lit(1.0) / F.expr("shiftleft(cast(1 as bigint), rho)").cast("double")
    agg = joined.groupBy(*group_cols).agg(
        F.sum(F.when(F.col("rho") == 0, 1).otherwise(0))
        .cast("long")
        .alias("v_zero"),
        F.sum(inv).alias("_inv_sum"),
    )
    return agg.select(
        *group_cols,
        "v_zero",
        (F.lit(hll_alpha_m2(m)) / F.col("_inv_sum")).alias("raw_est"),
    )


# ---------------------------------------------------------------------------
# Fixed-grid histogram sketch — bounded-state QUANTILES, completing the
# sketch family (frequency = count-min, distinct = HLL, quantile =
# histogram): a clamped fixed-width bucket grid whose counts merge by
# SUM across shards/micro-batches, answering any quantile with one-sided
# error <= one bucket width. Engine-exact when the bucket width is a
# power of two: v / width is an exponent shift (no rounding), floor is
# exact, and the quantile rank ceil(q * N) rounds identically — so the
# whole sketch AND its quantile answers hash-match across engines.
# The streaming rendering is an update-mode SUM over <= n_bins keys:
# bounded state for unbounded input, same discipline as the CMS/HLL
# grids (the percentile analog of the reference's windowed aggregations,
# dws/VisitorStatsApp.java, whose per-key state this bounds).
# ---------------------------------------------------------------------------


def value_histogram(
    df: DataFrame,
    value_col: str,
    width: float,
    n_bins: int,
    group_cols: list[str] | tuple = (),
) -> DataFrame:
    """The histogram: (group..., bucket, cnt), at most ``n_bins`` rows
    per group. bucket = clamp(floor(v / width), 0, n_bins-1); values
    above the grid land in the top bucket (documented clamp — size the
    grid so the tail you care about is interior). NULL values carry no
    quantile information and are dropped (fail-closed counting).
    Shards merge by summing cnt on (group, bucket)."""
    v = F.col(value_col).cast("double")
    b = F.floor(v / F.lit(float(width))).cast("long")
    bucket = F.least(F.greatest(b, F.lit(0)), F.lit(n_bins - 1))
    return (
        df.filter(v.isNotNull())
        .select(*group_cols, bucket.alias("bucket"))
        .groupBy(*group_cols, "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def histogram_quantiles(
    hist: DataFrame,
    width: float,
    qs: list[float] | tuple = (0.5, 0.9, 0.99),
    group_cols: list[str] | tuple = (),
) -> DataFrame:
    """Quantile answers from a histogram: for each q, the first bucket
    whose cumulative count reaches rank ceil(q * N) -> (q, bucket,
    est_hi, n) with ``est_hi = (bucket+1) * width`` the one-sided upper
    boundary: true_quantile in (est_hi - width, est_hi] whenever the
    value was interior to the grid. The cumulative window runs over the
    <= n_bins histogram rows — bounded, deliberately single-partition
    (tiny data), the same posture as shuffle_order's 256-row offset
    window. N rides along so consumers can audit the rank."""
    from pyspark.sql import Window as W

    spark = hist.sparkSession
    # both the running and the total sum ride ONE tiny window over the
    # <= n_bins histogram rows per group — a separate hist.agg() total
    # would re-execute the whole upstream scan (measured: the first
    # rendering read lineitem twice). Ungrouped: deliberately a single
    # partition (tiny data); grouped: one shuffle on the group key over
    # the grid-sized histogram.
    base = (
        W.partitionBy(*group_cols).orderBy("bucket")
        if group_cols
        else W.orderBy("bucket")
    )
    cum = hist.withColumn(
        "cum",
        F.sum("cnt").over(base.rowsBetween(W.unboundedPreceding, 0)),
    ).withColumn(
        "n",
        F.sum("cnt")
        .over(
            base.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
        )
        .cast("long"),
    )
    qdf = local_frame(spark, [(float(q),) for q in qs], "q double")
    j = cum.crossJoin(F.broadcast(qdf))
    return (
        j.filter(F.col("cum") >= F.ceil(F.col("q") * F.col("n")))
        .groupBy(*group_cols, "q", "n")
        .agg(F.min("bucket").alias("bucket"))
        .select(
            *group_cols,
            "q",
            "bucket",
            ((F.col("bucket") + 1) * F.lit(float(width))).alias("est_hi"),
            "n",
        )
    )


# ---------------------------------------------------------------------------
# Grid persistence with parameter validation — the save_sketch/
# load_sketch discipline (r7 ADVICE) generalized to the other two
# grids: every persisted sketch carries its build parameters, and every
# load asserts them before a probe can silently read the wrong cells.
# ---------------------------------------------------------------------------


def _save_grid(store, table: str, grid: DataFrame, meta: dict, key_cols) -> None:
    keyed = grid
    for k, v in meta.items():
        keyed = keyed.withColumn(k, F.lit(v))
    keyed = keyed.withColumn(
        "_k", F.concat_ws(":", *[F.col(c).cast("string") for c in key_cols])
    )
    store.upsert(table, keyed, pk="_k")


def _load_grid(store, table: str, meta: dict, out_cols) -> DataFrame:
    df = store.read(table)
    rows = df.select(*meta.keys()).distinct().limit(3).collect()
    got = sorted(tuple(r[k] for k in meta) for r in rows)
    want = tuple(meta.values())
    if got != [want]:
        raise ValueError(
            f"persisted sketch '{table}' was built with {list(meta)} in "
            f"{got}, probe expects {want} — rebuild the sketch or probe "
            "with the recorded parameters"
        )
    return df.select(*out_cols)


def save_hll(
    store, table: str, registers: DataFrame,
    group_cols: list[str] | tuple = (), m: int = HLL_M,
) -> None:
    """Persist an HLL register table with its build parameter ``m`` (and
    the repo hash seeds, which are baked constants): a probe densifying
    against the wrong m would mis-estimate silently."""
    _save_grid(
        store, table, registers,
        {"m": m, "seed": "hllb|hllr"},
        [*group_cols, "bucket"],
    )


def load_hll(
    store, table: str, group_cols: list[str] | tuple = (), m: int = HLL_M
) -> DataFrame:
    return _load_grid(
        store, table, {"m": m, "seed": "hllb|hllr"},
        [*group_cols, "bucket", "rho"],
    )


def save_histogram(
    store, table: str, hist: DataFrame, width: float, n_bins: int,
    group_cols: list[str] | tuple = (),
) -> None:
    """Persist a histogram with (width, n_bins): quantiles computed
    against the wrong width return boundaries from a different grid."""
    _save_grid(
        store, table, hist,
        {"width": float(width), "n_bins": n_bins},
        [*group_cols, "bucket"],
    )


def load_histogram(
    store, table: str, width: float, n_bins: int,
    group_cols: list[str] | tuple = (),
) -> DataFrame:
    return _load_grid(
        store, table, {"width": float(width), "n_bins": n_bins},
        [*group_cols, "bucket", "cnt"],
    )

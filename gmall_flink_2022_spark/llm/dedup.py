"""Deduplication operators for training-data pipelines (100 TB posture).

All pure JVM-side expressions (no Python UDFs in the hot path):
- exact: hash-groupBy on a content digest — one shuffle on the digest.
- n-gram Jaccard: shingle explode -> self-join on shingle -> pair counts.
  The shingle join is the classic inverted-index trick: only documents
  sharing at least one shingle ever meet, so the quadratic blow-up is
  bounded by shingle frequency. At 100 TB you additionally cap hot
  shingles (drop shingles with document-frequency above a threshold —
  they only generate pairs that other shingles already generate).
- MinHash + LSH: per-seed signatures via min(md5(seed || shingle))
  (deterministic, engine-portable), banded into buckets; only
  bucket-colliding pairs are verified with exact Jaccard. This is the
  scale path: candidate generation is linear in corpus size.
- SimHash: 64-bit signature from per-token hashes; near-dups = small
  Hamming distance (bit-bucket join on rotated prefixes at scale).
- Embedding near-dup: cosine over an array<float> column within coarse
  buckets (label/partition) to bound the pair space.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.tokenize import tokenize_col
from .cachereg import track as _persist


def _parse_byte_size(s: str) -> int:
    """Parse a Spark byte-size conf string ("134217728", "134217728b",
    "128m", "1g", ...) into bytes."""
    s = s.strip().lower()
    units = {"b": 1, "k": 1 << 10, "kb": 1 << 10, "m": 1 << 20,
             "mb": 1 << 20, "g": 1 << 30, "gb": 1 << 30,
             "t": 1 << 40, "tb": 1 << 40}
    for suf in sorted(units, key=len, reverse=True):
        if s.endswith(suf):
            # float first: Spark accepts fractional sizes ("1.5g")
            return int(float(s[: -len(suf)]) * units[suf])
    return int(float(s))


def _estimated_scan_partitions(df: DataFrame) -> int | None:
    """Estimate how many scan partitions Spark will give ``df``'s file
    sources, using Spark's own split formula (FilePartition.maxSplitBytes
    + greedy bin-packing): maxSplitBytes = min(maxPartitionBytes,
    max(openCostInBytes, paddedTotal / defaultParallelism)), partitions
    ~= ceil(paddedTotal / maxSplitBytes). Works entirely from
    ``df.inputFiles()`` (analyzed logical plan only — no physical plan,
    no AQE finalization, no job) plus session confs. Returns None when
    the frame has no stat-able file sources (e.g. a local relation)."""
    import math
    import os
    from urllib.parse import unquote, urlparse

    files = df.inputFiles()
    if not files:
        return None
    spark = df.sparkSession
    max_pb = _parse_byte_size(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b")
    )
    open_cost = _parse_byte_size(
        spark.conf.get("spark.sql.files.openCostInBytes", "4194304b")
    )
    dp = spark.sparkContext.defaultParallelism
    padded_total = 0
    for f in files:
        parsed = urlparse(f)
        if parsed.scheme not in ("", "file") or parsed.netloc not in (
            "", "localhost", "127.0.0.1",
        ):
            # remote store (incl. file://host/... with a foreign host):
            # can't stat cheaply — count the file at its open cost only,
            # which degrades the formula to COUNT-based semantics (fewer
            # remote files than cores => fan out, many => no-op).
            # Counting a full split instead would estimate a single
            # small s3 file at >= dp splits and structurally disable the
            # guard for exactly the starved remote scan it exists for.
            size = 0
        else:
            try:
                # unquote: inputFiles() returns URIs, so paths with
                # spaces arrive percent-encoded ("%20")
                size = os.path.getsize(unquote(parsed.path) or f)
            except OSError:
                size = 0
        padded_total += size + open_cost
    max_split = min(max_pb, max(open_cost, padded_total // max(dp, 1)))
    return max(1, math.ceil(padded_total / max(max_split, 1)))


def ensure_explode_parallelism(df: DataFrame) -> DataFrame:
    """Right-size the task count for explode-heavy operators.

    Shingling/segmenting blows each input row up 10-100x, but Spark
    sizes file splits by INPUT bytes (spark.sql.files.maxPartitionBytes)
    — a few-MB parquet of long documents scans as 1-2 partitions, and
    the whole explode+aggregate pipeline then runs on 1-2 of the
    cluster's cores (measured: 7x slowdown on the 10x spot-check corpus,
    BENCH_sf1_spotcheck.json). When the ESTIMATED file-split count of
    the frame's sources is below the cluster's parallelism, pay ONE
    round-robin shuffle of the raw rows to fan out; on
    properly-partitioned large inputs (splits >= cores) this is a no-op,
    so the guard never adds a shuffle at real scale.

    The estimate comes from ``df.inputFiles()`` + Spark's split formula
    (:func:`_estimated_scan_partitions`) rather than
    ``df.rdd.getNumPartitions()`` — with AQE enabled, touching ``.rdd``
    finalizes the adaptive plan and can eagerly execute upstream shuffle
    stages during plan CONSTRUCTION (r5 ADVICE). The trade: a frame
    that was already widened by an upstream shuffle of a tiny file
    source gets one redundant (tiny, harmless) round-robin shuffle; a
    frame with no file sources at all (local relation) is left alone.
    Streaming frames are left to the source's micro-batch
    partitioning."""
    if df.isStreaming:
        return df
    dp = df.sparkSession.sparkContext.defaultParallelism
    est = _estimated_scan_partitions(df)
    if est is not None and est < dp:
        return df.repartition(dp)
    return df


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact duplicate groups by content digest. Returns one row per
    distinct content: (digest, keep_id = min id, dup_ct)."""
    return (
        df.withColumn("digest", F.md5(F.col(text_col)))
        .groupBy("digest")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("dup_ct"))
    )


# ---------------------------------------------------------------------------
# Exact-dedup-first machinery for the near-dup family. Round-5 10x scaling
# spot-check (BENCH_sf1_spotcheck.json): pair generation and verification
# are quadratic in duplicate-FAMILY size, so a dup-heavy corpus blew the
# near-dup ops up 26-133x on 10x input. Collapsing bit-identical texts to
# one representative first makes the heavy path linear again; family
# membership is restored algebraically at the end (within-family pairs are
# emitted directly — identical texts share every shingle — and rep-level
# pairs fan out to member pairs). Document-frequency caps are computed
# with family multiplicities (weighted df), so capping behaves EXACTLY as
# on the uncollapsed corpus and the exact oracles stay green.
# ---------------------------------------------------------------------------


def _should_pre_dedup(
    df: DataFrame, digest: F.Column, min_dup_fraction: float = 0.05
) -> bool:
    """The "auto" probe: one scan with a map-side HLL — collapse only
    when a meaningful fraction of rows are duplicates. On an all-unique
    corpus the collapse machinery costs a full text shuffle and buys
    nothing (measured: +54% on llm_dedup_ngram at sf0.1); on a dup-heavy
    corpus it is the difference between linear and quadratic. The probe
    itself is O(n) scan + O(1) state — the right trade both ways.

    Documented trade (r5 ADVICE): the probe is EAGER — it runs at
    operator-CONSTRUCTION time, so building a plan that is never
    executed still pays one corpus scan, and in composed pipelines it
    materializes the upstream chain during plan building. Accepted
    because the alternative (deciding collapse at action time) cannot
    change the already-returned plan. No call site probes one frame
    twice in one build, so each build probes the files as they are now."""
    if df.isStreaming:
        # no eager probe on an unbounded frame; the uncollapsed path is
        # always correct, and a streaming caller that KNOWS its corpus
        # is dup-heavy can pass pre_dedup=True explicitly
        return False
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.approx_count_distinct(digest, 0.02).alias("d"),
    ).first()
    return bool(row["n"]) and (1.0 - row["d"] / row["n"]) >= min_dup_fraction


def _exact_text_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Identical-text families keyed by the exact_dedup digest:
    (rep_id = min id, sorted members, fam_n, one text copy)."""
    return (
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_txt"))
        .withColumn("_dig", F.md5("_txt"))
        .groupBy("_dig")
        .agg(
            F.min("id").alias("rep_id"),
            F.array_sort(F.collect_list("id")).alias("members"),
            F.count(F.lit(1)).alias("fam_n"),
            F.first("_txt").alias("_txt"),
        )
    )


def _expand_rep_pairs(
    rep_pairs: DataFrame,
    members_df: DataFrame,
    payload: list[str],
    swap: tuple[tuple[str, str], ...] = (),
) -> DataFrame:
    """Representative-level (id_a, id_b, payload...) -> member-level
    pairs (payload identical for every member combination because
    members share the representative's exact text/vector).

    A member of the b-side family can carry a SMALLER id than its
    a-side counterpart, flipping the pair's canonical order — any
    side-asymmetric payload columns (e.g. n_a/n_b) must flip with it;
    list them in ``swap``."""
    ma = members_df.select(F.col("rep_id").alias("id_a"), F.col("members").alias("_ma"))
    mb = members_df.select(F.col("rep_id").alias("id_b"), F.col("members").alias("_mb"))
    flipped = F.col("_ea") > F.col("_eb")
    out_cols: dict[str, F.Column] = {}
    for a, b in swap:
        out_cols[a] = F.when(flipped, F.col(b)).otherwise(F.col(a)).alias(a)
        out_cols[b] = F.when(flipped, F.col(a)).otherwise(F.col(b)).alias(b)
    cols = [out_cols.get(c, F.col(c)) for c in payload]
    return (
        rep_pairs.join(ma, "id_a")
        .join(mb, "id_b")
        .select(F.explode("_ma").alias("_ea"), F.col("_mb"), *payload)
        .select("_ea", F.explode("_mb").alias("_eb"), *payload)
        .select(
            F.least("_ea", "_eb").alias("id_a"),
            F.greatest("_ea", "_eb").alias("id_b"),
            *cols,
        )
    )


def _within_family_pairs(
    members_df: DataFrame, rep_payload: DataFrame, payload: list[str]
) -> DataFrame:
    """All (a < b) member pairs inside each family of size >= 2, carrying
    the representative's payload row (joined on rep_id). Members arrive
    sorted, so posexplode + suffix-slice keeps id_a < id_b."""
    fam = members_df.filter(F.col("fam_n") >= 2).join(rep_payload, "rep_id")
    return fam.select(
        F.posexplode("members").alias("_i", "_a"), F.col("members"), *payload
    ).select(
        F.col("_a").alias("id_a"),
        F.explode(
            F.slice(F.col("members"), F.col("_i") + 2, F.size("members"))
        ).alias("id_b"),
        *payload,
    )


def shingles(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    tokens_col: str | None = None,
    dedupe: bool = True,
) -> DataFrame:
    """Distinct word n-gram shingles per document: (id, shingle).
    Tokens via the engine tokenizer; shingle = n consecutive tokens
    joined by a single space. Pass ``tokens_col`` to reuse an existing
    array<string> token column instead of re-tokenizing (one regex pass
    per corpus scan saved in composed pipelines).

    ``dedupe=False`` skips the per-(id, shingle) distinct — a FULL
    SHUFFLE of the shingle table — for consumers whose downstream op
    dedups anyway (e.g. a semi-join + id-distinct); Jaccard-style
    consumers need the distinct semantics and must keep the default."""
    # r16: materialize the token array in its own projection before the
    # gram lambda — ``slice(toks, i, n)`` with ``toks`` a raw tokenizer
    # EXPRESSION inlines the regex into the (interpreted) lambda body
    # and re-tokenizes the document once per gram position (same
    # O(len^2) trap measured at 9.2 s -> 0.5 s on lm._bigrams); a bound
    # attribute evaluates once per row. tokens_col callers were already
    # safe — they pass a materialized column.
    src = ensure_explode_parallelism(df).select(
        F.col(id_col).alias("id"),
        (F.col(tokens_col) if tokens_col else tokenize_col(text_col)).alias(
            "__toks"
        ),
    )
    toks = F.col("__toks")
    # guard: sequence() counts down when stop < start, so gate on size>=n;
    # docs with fewer than n tokens produce no shingles (explode drops them).
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - n + 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    out = src.select("id", F.explode(grams).alias("shingle"))
    return out.distinct() if dedupe else out


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = 64,
    prune_rare: bool = False,
    pre_dedup: bool | str = "auto",
) -> DataFrame:
    """All pairs (a < b) with Jaccard similarity of shingle sets >=
    threshold.

    ``pre_dedup``: collapse bit-identical texts before shingling (see
    the exact-dedup-first block comment above). The df cap/prune sees
    family-weighted frequencies, so results are bit-identical to the
    uncollapsed run — property-tested in
    test_operators.py::test_ngram_pairs_pre_dedup_equivalence. The
    default "auto" probes the duplicate fraction with one HLL scan and
    collapses only when >=5% of rows are duplicates (collapse costs a
    text shuffle, so it must earn its keep).

    The hot-shingle cap is ON BY DEFAULT (``max_shingle_df=64``): a
    shingle appearing in k documents expands k²/2 candidate structs in a
    single task, so one boilerplate phrase shared by 1% of a 100 TB
    corpus would serialize the whole job through one reducer. Capped
    candidate generation bounds every task at df²/2 ≤ 2048 structs and
    stays linear in corpus size. Recall delta: a pair is missed only if
    EVERY shingle it shares has df > 64 — near-dup pairs share many
    shingles at every frequency, so the planted-dup skew test
    (tests/test_skew.py) observes 100% recall with the cap on. `common`
    counts capped shingles only, so reported jaccard is a lower bound
    for affected pairs. Pass ``max_shingle_df=None`` for the exact
    worst-case all-pairs semantics (`llm_dedup_ngram_exact`).

    - ``prune_rare``: additionally drop df=1 shingles from the join
      sides (they can never be shared; `sizes` keeps the full set).
      Pure pruning — identical result — worth one extra aggregation on
      real long-tail corpora.
    """
    if pre_dedup == "auto":
        pre_dedup = _should_pre_dedup(df, F.md5(F.col(text_col)))
    groups = None
    if pre_dedup:
        groups = _persist(_exact_text_groups(df, id_col, text_col))
        reps = groups.select(F.col("rep_id").alias("id"), "_txt")
        sh = _persist(shingles(reps, "id", "_txt", n))
        wts = groups.select(F.col("rep_id").alias("id"), "fam_n")
    else:
        sh = _persist(shingles(df, id_col, text_col, n))
        wts = None
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    cand_src = sh
    if prune_rare or max_shingle_df is not None:
        if wts is not None:
            # family-weighted document frequency == df over the
            # uncollapsed corpus (each member contributes one holder)
            freq = (
                sh.join(F.broadcast(wts), "id")
                .groupBy("shingle")
                .agg(F.sum("fam_n").alias("df_ct"))
            )
        else:
            freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df_ct"))
        lo = 2 if prune_rare else 1
        hi_pred = (
            (F.col("df_ct") <= max_shingle_df)
            if max_shingle_df is not None
            else F.lit(True)
        )
        keep = freq.filter((F.col("df_ct") >= lo) & hi_pred)
        cand_src = sh.join(keep.select("shingle"), "shingle", "left_semi")
    # pair generation by inverted-list expansion, not a self-join: one
    # groupBy(shingle) collects each posting list, ordered pairs explode
    # from the sorted list array-side (still inside codegen). Two shuffles
    # total (postings, then pair counts) vs three for the a×b join, ~30%
    # faster at sf0.1. Skew caveat at 100 TB: a df=k shingle expands k²/2
    # structs in one task — cap hot shingles with ``max_shingle_df`` (the
    # same pairs re-arise from rarer shared shingles).
    lists = (
        cand_src.groupBy("shingle")
        .agg(F.sort_array(F.collect_set("id")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    pair_structs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.size("ids") - 1),
            lambda i: F.transform(
                F.slice(F.col("ids"), i + 1, F.size("ids") - i),
                lambda b: F.struct(
                    F.element_at("ids", i).alias("id_a"), b.alias("id_b")
                ),
            ),
        )
    )
    common = (
        lists.select(F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    out = (
        common.join(F.broadcast(sa), "id_a")
        .join(F.broadcast(sb), "id_b")
        .withColumn(
            "jaccard",
            F.col("common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("common")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "common", "n_a", "n_b", "jaccard")
    )
    if groups is None:
        return out
    payload = ["common", "n_a", "n_b", "jaccard"]
    cross = _expand_rep_pairs(
        out, groups.select("rep_id", "members"), payload, swap=(("n_a", "n_b"),)
    )
    # within-family pairs: identical texts share every cap-surviving
    # shingle, so common = |capped shingle set| and n_a = n_b = n_sh —
    # exactly what the uncollapsed run reports for such a pair. Families
    # whose shingles were all capped away (or that have none) share no
    # candidate shingle and are not emitted, same as the original.
    capped_ct = cand_src.groupBy("id").agg(F.count(F.lit(1)).alias("common"))
    wpay = (
        sizes.join(capped_ct, "id")
        .select(
            F.col("id").alias("rep_id"),
            "common",
            F.col("n_sh").alias("n_a"),
            F.col("n_sh").alias("n_b"),
        )
        .withColumn(
            "jaccard",
            F.col("common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("common")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    within = _within_family_pairs(
        groups.select("rep_id", "members", "fam_n"), wpay, payload
    )
    return cross.unionByName(within)


def prefix_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold_pct: int = 60,
    pre_dedup: bool | str = "auto",
) -> DataFrame:
    """Similarity join via PREFIX FILTERING (AllPairs/PPJoin family,
    Bayardo et al. 2007 / Xiao et al. 2008) — the third candidate-
    generation family next to LSH banding and the df-capped inverted
    index, and the only one of the three that is EXACT: output is every
    pair with shingle-Jaccard >= t, no recall loss, yet no all-pairs
    join.

    How: order the universe of shingles globally by document frequency
    ascending (rarest first, ties by shingle text). A doc with k shingles
    indexes only its PREFIX — the first k - ceil(t*k) + 1 shingles in
    that order; every doc probes the prefix index with its FULL shingle
    set. Completeness: J(x,y) >= t with |x| >= |y| forces
    |x ∩ y| >= t*|x| (since J <= |y|/|x| means |y| >= t|x|, and
    c >= t(|x|+|y|)/(1+t) >= t|x|), so y must hit at least one of x's
    prefix shingles — the pair surfaces through the larger doc's prefix.
    Verification then touches candidates only: each candidate pair joins
    the two docs' sorted shingle arrays and intersects them in codegen.

    t is passed as an integer percentage so the prefix length is pure
    integer arithmetic (ceil(t*k) = (t_pct*k + 99) div 100) — no float
    boundary can disagree between planning and the oracle.

    100 TB posture: prefix shingles are by construction the RAREST in the
    corpus, so the index join's per-key fan-out is minimal exactly where
    an unordered inverted index explodes; candidate count falls as t
    rises (longer docs index fewer shingles). Shuffles: shingle-df agg,
    per-doc rank (id-partitioned window), index join on shingle, verify
    join on id — all on natural keys. Per-doc collected shingle arrays
    are bounded by document length, the tokenizer's own bound.

    ``pre_dedup`` (default "auto": the HLL duplicate-fraction probe, as
    in ngram_jaccard_pairs): bit-identical texts collapse to one
    representative BEFORE shingling; rep-level pairs expand back
    algebraically and within-family pairs emit directly with
    jaccard = 1.0 (identical shingle sets). Output is IDENTICAL to the
    uncollapsed run: completeness of prefix filtering holds for ANY
    consistent global shingle order, so ranking by rep-level df instead
    of member-level df changes candidate generation cost only, never
    the verified pair set. On a dup-heavy corpus (e.g. the r9 10x
    replica fixture: ~30-member exact/near families) this removes the
    quadratic within-family work from the index join and verify stage.
    """
    from pyspark.sql import Window

    if pre_dedup == "auto":
        pre_dedup = _should_pre_dedup(df, F.md5(F.col(text_col)))
    groups = None
    if pre_dedup:
        groups = _persist(_exact_text_groups(df, id_col, text_col))
        src, sid, stxt = (
            groups.select(F.col("rep_id").alias("id"), "_txt"),
            "id",
            "_txt",
        )
    else:
        src, sid, stxt = df, id_col, text_col
    # materialize the shingle table once: it feeds six plan subtrees
    # (sizes, document frequencies, the ranked prefix, the probe side,
    # and both verify sides), each of which would otherwise replay the
    # full tokenize+explode scan of the corpus — same lineage-truncation
    # move as graph.triangle_counts
    sh = shingles(src, sid, stxt, n).localCheckpoint(eager=True)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("k"))
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("sdf"))
    ranked = (
        sh.join(dfreq, "shingle")
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("id").orderBy("sdf", "shingle")
            ),
        )
        .join(sizes, "id")
    )
    # r17 (r16 VERDICT #6): PPJoin positional filter (Xiao et al. 2008)
    # on top of the AllPairs prefix index. Both join sides now carry
    # (rn, k) — the shingle's rank in the SHARED global (sdf, shingle)
    # order and the doc's shingle count — so each collision can bound
    # the pair's maximum possible overlap: common shingles all rank >=
    # the colliding shingle in BOTH docs (per-doc order is a restriction
    # of one global total order), hence c <= 1 + min(k_p - rn_p,
    # k_s - rn_s). Zero recall loss: for a qualifying pair the FIRST
    # common shingle in global order (a) lies in the larger doc's prefix
    # whenever any common shingle does (prefix = lowest ranks, and
    # AllPairs completeness guarantees one), and (b) has minimal ranks
    # in both docs, so its collision row's bound >= c >= alpha and it
    # always survives; only redundant collisions and hopeless pairs are
    # cut before the distinct + verify join (the entry's measured wall).
    # alpha = ceil(t*(k_a+k_b)/(1+t)) in pure integer arithmetic:
    # ubound >= alpha  <=>  (100+t)*ubound >= t*(k_a+k_b). The length
    # filter (J <= min/max => t*max <= 100*min) is per-pair sound and
    # cuts collisions the positional bound alone keeps.
    rk = _persist(ranked.select("id", "shingle", "rn", "k"))
    prefix = rk.filter(
        F.col("rn")
        <= F.col("k") - F.expr(f"({threshold_pct} * k + 99) div 100") + 1
    )
    p_rem = F.col("p.k") - F.col("p.rn")
    s_rem = F.col("s.k") - F.col("s.rn")
    cand = (
        prefix.alias("p")
        .join(rk.alias("s"), "shingle")
        .filter(F.col("p.id") != F.col("s.id"))
        .filter(
            (100 + threshold_pct) * (1 + F.least(p_rem, s_rem))
            >= threshold_pct * (F.col("p.k") + F.col("s.k"))
        )
        .filter(
            threshold_pct * F.greatest("p.k", "s.k")
            <= 100 * F.least("p.k", "s.k")
        )
        .select(
            F.least("p.id", "s.id").alias("id_a"),
            F.greatest("p.id", "s.id").alias("id_b"),
        )
        .distinct()
    )
    sets = sh.groupBy("id").agg(
        F.array_sort(F.collect_list("shingle")).alias("shset"),
        F.count(F.lit(1)).alias("n"),
    )
    sa, sb = sets.alias("sa"), sets.alias("sb")
    verified = (
        cand.join(sa, F.col("id_a") == F.col("sa.id"))
        .join(sb, F.col("id_b") == F.col("sb.id"))
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("sa.shset", "sb.shset")).cast("long").alias(
                "common"
            ),
            F.col("sa.n").alias("n_a"),
            F.col("sb.n").alias("n_b"),
        )
        .withColumn(
            "jaccard",
            F.col("common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("common")).cast("double"),
        )
    )
    # integer threshold test (100*c >= t_pct*(na+nb-c)) so the cut cannot
    # straddle a float rounding boundary; the reported jaccard column is
    # the single-division double both engines compute identically
    out = verified.filter(
        100 * F.col("common")
        >= threshold_pct * (F.col("n_a") + F.col("n_b") - F.col("common"))
    )
    if groups is None:
        return out
    payload = ["common", "n_a", "n_b", "jaccard"]
    cross = _expand_rep_pairs(
        out, groups.select("rep_id", "members"), payload, swap=(("n_a", "n_b"),)
    )
    # within-family pairs: identical texts share the full shingle set, so
    # common = n_a = n_b = n_sh and jaccard is exactly 1.0 (what the
    # uncollapsed run reports for such a pair: the verify stage
    # intersects two identical sorted arrays). Families whose text
    # yields no shingles (< n tokens) share nothing and are not emitted,
    # same as the original.
    wpay = (
        sh.groupBy("id")
        .agg(F.count(F.lit(1)).alias("common"))
        .select(
            F.col("id").alias("rep_id"),
            "common",
            F.col("common").alias("n_a"),
            F.col("common").alias("n_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    within = _within_family_pairs(
        groups.select("rep_id", "members", "fam_n"), wpay, payload
    )
    return cross.unionByName(within)


def _minhash_cols(num_hashes: int) -> list:
    """One MinHash value per seed: min over shingles of the 8-hex-char
    prefix of md5(seed || '|' || shingle). Lexicographic min over a
    fixed-width hex string == numeric min of the 32-bit value, and md5 is
    identical across engines (portable to the DuckDB oracle)."""
    return [
        F.min(F.substring(F.md5(F.concat(F.lit(f"{i}|"), F.col("shingle"))), 1, 8)).alias(
            f"mh{i}"
        )
        for i in range(num_hashes)
    ]


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, num_hashes: int = 8
) -> DataFrame:
    """(id, mh0..mh{k-1}) MinHash signature per document."""
    sh = shingles(df, id_col, text_col, n)
    return sh.groupBy("id").agg(*_minhash_cols(num_hashes))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 2,
    threshold: float = 0.4,
    pre_dedup: bool | str = "auto",
) -> DataFrame:
    """LSH candidate generation + exact-Jaccard verification.

    Signatures are banded (num_hashes/bands rows per band); documents
    sharing any band bucket become candidates; candidates are verified
    with exact Jaccard >= threshold. Returns (id_a, id_b, jaccard).

    ``pre_dedup`` (default "auto": one HLL duplicate-fraction probe
    decides): collapse bit-identical texts first (see the
    exact-dedup-first block comment above). Identical texts have
    identical signatures, so the uncollapsed run always finds every
    within-family pair with Jaccard exactly 1.0 — emitted here directly
    (families with at least one shingle), while signature/bucket/verify
    work runs on unique texts only.
    """
    if pre_dedup == "auto":
        pre_dedup = _should_pre_dedup(df, F.md5(F.col(text_col)))
    if not pre_dedup:
        sh = _persist(shingles(df, id_col, text_col, n))
        return minhash_lsh_pairs_from_shingles(sh, num_hashes, bands, threshold)
    groups = _persist(_exact_text_groups(df, id_col, text_col))
    reps = groups.select(F.col("rep_id").alias("id"), "_txt")
    sh = _persist(shingles(reps, "id", "_txt", n))
    rep_pairs = minhash_lsh_pairs_from_shingles(sh, num_hashes, bands, threshold)
    cross = _expand_rep_pairs(
        rep_pairs, groups.select("rep_id", "members"), ["jaccard"]
    )
    # n/(n + n - n) is exactly 1.0 for any shingle count n >= 1
    wpay = (
        sh.groupBy("id")
        .agg(F.count(F.lit(1)).alias("_n_sh"))
        .select(F.col("id").alias("rep_id"), F.lit(1.0).alias("jaccard"))
    )
    within = _within_family_pairs(
        groups.select("rep_id", "members", "fam_n"), wpay, ["jaccard"]
    )
    return cross.unionByName(within)


def minhash_lsh_pairs_from_shingles(
    sh: DataFrame,
    num_hashes: int = 8,
    bands: int = 2,
    threshold: float = 0.4,
    bucket_block_cap: int = 1024,
) -> DataFrame:
    """Same contract as :func:`minhash_lsh_pairs` over a precomputed
    (id, shingle) table — lets composed pipelines (curation) materialize
    shingles once and share them between signature generation and
    exact-Jaccard verification instead of re-scanning + re-tokenizing
    the corpus per stage.

    ``bucket_block_cap`` (r13): the band-bucket self-join is the same
    hot-key shape the 16-bit simhash had — a boilerplate-heavy corpus
    drops a large doc family into ONE band bucket, and that one join
    key then carries O(n^2) candidate pairs. Buckets above the cap are
    subdivided block-matrix style (:func:`_bucket_block_cells`);
    output-identical, worst key bounded at cap^2 pairs."""
    rows = num_hashes // bands
    # one aggregation computes both the signature and the set size — the
    # shuffle key is the same, so a separate sizes pass would be a second
    # full exchange over the shingle table for no reason.
    sig = _persist(sh.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_sh"), *_minhash_cols(num_hashes)
    ))  # one small row per doc; read by both buckets and sizes
    sizes = sig.select("id", "n_sh")
    band_cols = [
        F.concat_ws(
            "_", F.lit(str(b)), *[F.col(f"mh{b * rows + r}") for r in range(rows)]
        ).alias("bucket")
        for b in range(bands)
    ]
    buckets = sig.select(
        "id", F.explode(F.array(*band_cols)).alias("bucket")
    ).distinct()
    # cell-keyed self-join (hot-band de-skew, shared helper — see
    # _cell_self_join); distinct() collapses multi-band collisions
    cands = (
        _cell_self_join(buckets, bucket_block_cap)
        .select("id_a", "id_b")
        .distinct()
    )
    # exact-Jaccard verification restricted to the candidate pairs — the
    # LSH contract: candidate generation is linear, verification touches
    # only bucket collisions, never the quadratic pair space.
    sha = sh.select(F.col("id").alias("id_a"), F.col("shingle").alias("sh_a"))
    shb = sh.select(F.col("id").alias("id_b2"), F.col("shingle").alias("sh_b"))
    common = (
        cands.join(sha, "id_a")
        .join(shb, (F.col("id_b") == F.col("id_b2")) & (F.col("sh_a") == F.col("sh_b")))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        common.join(F.broadcast(sa), "id_a")
        .join(F.broadcast(sb), "id_b")
        .withColumn(
            "jaccard",
            F.col("common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("common")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash_signatures(
    df: DataFrame, id_col: str, text_col: str, bits: int = 16
) -> DataFrame:
    """SimHash signature per document (16 or 64 bits; both SQL-oracle
    portable). Bit i of the signature is the sign of sum over distinct
    tokens of (+1 if bit i of md5(token) else -1). Token bit i derives
    from hex digit (i mod 32) of the md5, shifted by (i div 32) — bits
    0-31 are each digit's low bit, 32-63 the next bit — deterministic
    and expressible identically in both engines."""
    assert bits <= 64
    toks = F.explode(F.array_distinct(tokenize_col(text_col)))
    tok = df.select(F.col(id_col).alias("id"), toks.alias("token")).withColumn(
        "h", F.md5(F.col("token"))
    )
    bit_votes = [
        F.sum(
            F.when(
                F.shiftright(
                    F.conv(F.substring(F.col("h"), (i % 32) + 1, 1), 16, 10).cast(
                        "int"
                    ),
                    i // 32,
                )
                % 2
                == 1,
                1,
            ).otherwise(-1)
        ).alias(f"v{i}")
        for i in range(bits)
    ]
    votes = tok.groupBy("id").agg(*bit_votes)
    sig = F.concat(
        *[F.when(F.col(f"v{i}") > 0, "1").otherwise("0") for i in range(bits)]
    )
    return votes.select("id", sig.alias("simhash"))


def _bucket_block_cells(parts: DataFrame, cap: int):
    """Block-matrix subdivision of a bucket self-join (r12 VERDICT: the
    16-bit simhash's one named 100x-scale hazard) — the exact-output
    de-skew for a hot bucket key. Rows of each bucket are dealt into
    ``ceil(n / cap)`` blocks (round-robin on the id rank); the all-pairs
    space of a bucket is then the union of its block-pair CELLS
    ``(bucket, i, j)`` with ``i <= j``, and the self-join runs on the
    cell key instead of the raw bucket:

    - every unordered row pair lands in EXACTLY one cell (blocks
      ``(g_a, g_b)`` -> cell ``(min, max)``; diagonal cells order by
      id), so the pair set — and therefore the operator output — is
      identical to the naive bucket join;
    - no cell carries more than ``cap`` rows per side, so the worst
      join key is ``cap^2`` candidate pairs no matter how hot the
      bucket: the sf0.1 template corpus's 1734-doc bucket (~1.5M pairs
      through ONE sort-merge key) becomes 3 cells, and its 100x
      projection (~173k docs -> ~15B pairs, a single-partition
      scale-killer) becomes ~14k cells that AQE spreads like any other
      key;
    - a bucket within the cap keeps one diagonal cell ``(b, 0, 0)`` —
      the plan degenerates to the original join, each side replicated
      once.

    Row replication is ``nblk + 1`` copies across the two sides (left
    emits cells ``(g, g..nblk-1)``, right emits ``(0..g, g)``) — linear
    in the de-skew factor, the standard block-matrix trade. Returns the
    (left, right) frames carrying every ``parts`` column plus the cell
    key ``(bucket, _i, _j)``; join them on the cell key with the
    diagonal predicate ``(_i < _j) OR (left.id < right.id)`` and
    normalize ids with least/greatest — or use :func:`_cell_self_join`,
    which packages exactly that join once for every call site.

    PRECONDITION (r13 ADVICE): ``(id, bucket)`` pairs must be UNIQUE in
    ``parts``. If the same id appeared twice in one bucket, its two
    copies could land in different blocks and an off-diagonal cell's
    ``_i < _j`` arm would admit the self-pair (X, X). Every caller
    guarantees uniqueness structurally — ``distinct()`` on the
    membership frame (MinHash), slice-/table-prefixed bucket keys over
    one row per id (SimHash, hyperplane LSH), or one row per id
    (embedding cells) — and the hypothesis gate generates unique
    memberships to match. A new caller that can't guarantee it must
    ``distinct()`` first."""
    from pyspark.sql import Window as W

    wb = W.partitionBy("bucket")
    wr = W.partitionBy("bucket").orderBy("id")
    # integer ceil(n/cap): floor over double is exact to 2^53 rows
    nblk = (
        F.floor((F.count(F.lit(1)).over(wb) - 1) / F.lit(cap)) + 1
    ).cast("int")
    keyed = parts.select(
        "*", nblk.alias("_nb"),
        ((F.row_number().over(wr) - 1) % nblk).cast("int").alias("_g"),
    )
    base = [c for c in parts.columns]
    left = keyed.select(
        *base,
        F.col("_g").alias("_i"),
        F.explode(F.sequence(F.col("_g"), F.col("_nb") - 1)).alias("_j"),
    )
    right = keyed.select(
        *base,
        F.explode(F.sequence(F.lit(0), F.col("_g"))).alias("_i"),
        F.col("_g").alias("_j"),
    )
    return left, right


def _cell_self_join(
    parts: DataFrame, cap: int, symmetric: bool = True
) -> DataFrame:
    """The cell-keyed bucket self-join, factored (r13 VERDICT: the join
    predicate + least/greatest normalization was hand-copied at FOUR
    sites — MinHash bands, SimHash slices, embedding cells, hyperplane
    LSH tables — so an edit that fixed one copy and missed another
    would silently change output; all four now route here, and the
    pair-set-identity hypothesis gate covers this exact composition).

    ``parts`` must carry ``id``, ``bucket`` (UNIQUE together — see the
    precondition on :func:`_bucket_block_cells`) plus any payload
    columns. Emits one row per unordered same-bucket pair: ``id_a`` /
    ``id_b`` (least/greatest-normalized) and, for every payload column
    ``c``, ``c_a`` / ``c_b`` carrying the two sides' values.

    ``symmetric`` (default True — the r14 plan, byte-identical): the
    payload orientation follows the JOIN sides, not the id
    normalization (``c_a`` may belong to ``id_b`` when the right row
    sorts first) — fine for every current caller because their per-pair
    predicates (XOR bit_count, cosine) are symmetric. A caller with an
    ASYMMETRIC per-pair predicate must pass ``symmetric=False`` (r14
    VERDICT nit #2: nothing but a docstring guarded this), which
    re-orients every payload so ``c_a`` always belongs to ``id_a`` via
    a per-column conditional — two extra codegen CASEs per payload
    column on the (bounded) candidate pairs, no extra shuffle. ``bucket``
    is the left side's (equal on both by the join key). Callers add
    their own ``distinct()``/``dropDuplicates`` when ids meet through
    several buckets (multi-slice / multi-band / multi-table)."""
    left, right = _bucket_block_cells(parts, cap)
    a, b = left.alias("a"), right.alias("b")
    payload = [c for c in parts.columns if c not in ("id", "bucket")]
    if symmetric:
        pay_a = [F.col(f"a.{c}").alias(f"{c}_a") for c in payload]
        pay_b = [F.col(f"b.{c}").alias(f"{c}_b") for c in payload]
    else:
        # pair ids are distinct (diagonal excludes self-pairs), so
        # a.id < b.id orients exactly one way per pair
        a_first = F.col("a.id") < F.col("b.id")
        pay_a = [
            F.when(a_first, F.col(f"a.{c}"))
            .otherwise(F.col(f"b.{c}"))
            .alias(f"{c}_a")
            for c in payload
        ]
        pay_b = [
            F.when(a_first, F.col(f"b.{c}"))
            .otherwise(F.col(f"a.{c}"))
            .alias(f"{c}_b")
            for c in payload
        ]
    return a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a._i") == F.col("b._i"))
        & (F.col("a._j") == F.col("b._j"))
        & ((F.col("a._i") < F.col("a._j")) | (F.col("a.id") < F.col("b.id"))),
    ).select(
        F.least(F.col("a.id"), F.col("b.id")).alias("id_a"),
        F.greatest(F.col("a.id"), F.col("b.id")).alias("id_b"),
        F.col("a.bucket").alias("bucket"),
        *pay_a,
        *pay_b,
    )


def simhash_near_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 16,
    max_hamming: int = 3,
    n_splits: int = 2,
    pre_dedup: bool | str = "auto",
    bucket_block_cap: int = 1024,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance. Candidate generation
    buckets on ``n_splits`` equal signature slices: a pair within
    Hamming distance d must agree exactly on at least one slice when
    n_splits > d (pigeonhole) — so ``n_splits = max_hamming + 1`` is
    the exact-recall setting; fewer splits trade recall for fewer,
    bigger buckets. Distance verified exactly on the bit string.

    ``pre_dedup`` (default "auto", HLL probe): identical texts share a
    signature, so families collapse before bucketing/verification and
    expand back afterwards (within-family Hamming is exactly 0) — see
    the exact-dedup-first block comment above.

    ``bucket_block_cap`` (r12 VERDICT, the hot-bucket de-skew): buckets
    larger than the cap are subdivided block-matrix style via
    :func:`_bucket_block_cells`, so no single join key ever carries
    more than ``cap^2`` candidate pairs — with few slices (16-bit,
    n_splits=2) a template-heavy corpus concentrates a large fraction
    of the corpus in ONE slice bucket, which at 100x the test scale is
    billions of pairs through one shuffle key. Output-identical by
    construction (every unordered pair appears in exactly one cell)."""
    if pre_dedup == "auto":
        pre_dedup = _should_pre_dedup(df, F.md5(F.col(text_col)))
    groups = None
    if pre_dedup:
        groups = _persist(_exact_text_groups(df, id_col, text_col))
        src, id_use, text_use = (
            groups.select(F.col("rep_id").alias("__rid"), "_txt"),
            "__rid",
            "_txt",
        )
    else:
        src, id_use, text_use = df, id_col, text_col
    sig = _persist(simhash_signatures(src, id_use, text_use, bits))
    width = bits // n_splits
    slices = [
        F.concat(F.lit(f"s{k}_"), F.substring("simhash", k * width + 1, width))
        for k in range(n_splits)
    ]
    # Hamming distance must be CODEGEN arithmetic, not a higher-order
    # expression (r12): the predicate runs inside the bucket self-join,
    # once per CANDIDATE PAIR — a hot bucket (template page) makes that
    # millions of evaluations, and split+zip_with+aggregate are
    # interpreted per call (llm_dedup_editdist ground >25 min at sf0.1
    # on a 1734-doc bucket). Pre-split the bit string into <=32-bit
    # numeric chunks ONCE per row; per pair the distance is then
    # bit_count(a^b) per chunk — same value, whole-stage-codegen fast,
    # and 32-bit chunks keep 64-bit signatures inside a signed long.
    n_chunks = (bits + 31) // 32
    chunk_cols = [
        F.conv(F.substring("simhash", k * 32 + 1, 32), 2, 10)
        .cast("long")
        .alias(f"_sc{k}")
        for k in range(n_chunks)
    ]
    parts = sig.select(
        "id",
        *chunk_cols,
        F.explode(F.array(*slices)).alias("bucket"),
    )
    # cell-keyed self-join, not the raw bucket (hot-bucket de-skew —
    # see _cell_self_join / _bucket_block_cells); the XOR distance is
    # symmetric so the helper's join-side payload orientation is fine.
    # distinct() collapses pairs agreeing on several slices.
    joined = _cell_self_join(parts, bucket_block_cap)
    hamming = None
    for k in range(n_chunks):
        term = F.bit_count(
            F.col(f"_sc{k}_a").bitwiseXOR(F.col(f"_sc{k}_b"))
        )
        hamming = term if hamming is None else hamming + term
    pairs = (
        joined.select(
            "id_a", "id_b", hamming.cast("long").alias("hamming")
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )
    if groups is None:
        return pairs
    cross = _expand_rep_pairs(pairs, groups.select("rep_id", "members"), ["hamming"])
    wpay = groups.join(
        sig.select(F.col("id").alias("rep_id")), "rep_id"
    ).select("rep_id", F.lit(0).cast("long").alias("hamming"))
    within = _within_family_pairs(
        groups.select("rep_id", "members", "fam_n"), wpay, ["hamming"]
    )
    return cross.unionByName(within)


def substring_match_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    min_len: int = 12,
    max_gram_df: int = 16,
) -> DataFrame:
    """Cross-document repeated-substring detection — the substring-level
    exact-dedup family (Lee et al. 2021, "Deduplicating Training Data
    Makes Language Models Better", arXiv:2107.06499: remove long token
    runs that recur across documents; there a suffix array, here the
    Spark-native rendering).

    Positional token k-grams -> inverted index on the gram -> candidate
    (doc pair, position pair) hits -> maximal diagonal runs (classic
    gaps-and-islands on ``pos_a - pos_b``) -> spans of >= ``min_len``
    tokens. A shared substring of L >= k tokens yields L-k+1 consecutive
    hits on one diagonal, which merge into a single span of exactly L
    tokens — so span boundaries are EXACT, not fingerprint-approximate.

    100 TB posture: candidate generation is the same inverted-index
    trick as :func:`ngram_jaccard_pairs` — documents only meet through a
    shared gram, never a doc×doc product — and the hot-gram cap
    (``max_gram_df``, total occurrences) bounds every posting list, so a
    boilerplate k-gram shared by millions of documents cannot serialize
    the job through one reducer. A run whose every gram is capped out is
    missed (df-capped recall, identical in the SQL oracle); near-dup
    runs at the cap boundary may split into shorter spans. Token
    positions are 1-based.

    Returns (id_a, id_b, a_start, a_end, b_start, b_end, match_len),
    id_a < id_b, one row per maximal same-diagonal run.
    """
    from pyspark.sql import Window as W

    # r16: token array materialized before the gram lambda (the
    # shingles()/lm._bigrams inlining trap — a raw tokenizer expression
    # inside the lambda re-tokenizes per gram position)
    src = ensure_explode_parallelism(df).select(
        F.col(id_col).alias("id"), tokenize_col(text_col).alias("__toks")
    )
    toks = F.col("__toks")
    # positional k-grams; guard like shingles() (sequence counts down
    # when stop < start)
    grams = F.when(
        F.size(toks) >= k,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - k + 1),
            lambda i: F.struct(
                i.cast("long").alias("pos"),
                F.concat_ws(" ", F.slice(toks, i, k)).alias("gram"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<pos:bigint,gram:string>>"))
    g = (
        src.select("id", F.explode(grams).alias("g"))
        .select("id", F.col("g.pos").alias("pos"), F.col("g.gram").alias("gram"))
    )
    g = _persist(g)
    # cap BEFORE collecting posting lists (same rationale as the
    # ngram_jaccard cap: a df=m gram expands m^2/2 hit structs in one
    # task). nd>=2 additionally drops within-doc-only repeats early.
    freq = g.groupBy("gram").agg(
        F.count(F.lit(1)).alias("ct"), F.countDistinct("id").alias("nd")
    )
    keep = freq.filter((F.col("nd") >= 2) & (F.col("ct") <= max_gram_df))
    kg = g.join(keep.select("gram"), "gram", "left_semi")
    # inverted-list pair expansion (array-side, inside codegen): every
    # cross-document ordered occurrence pair of the gram.
    lists = kg.groupBy("gram").agg(
        F.sort_array(F.collect_list(F.struct("id", "pos"))).alias("occ")
    )
    pair = F.flatten(
        F.transform(
            F.col("occ"),
            lambda a: F.transform(
                F.filter(F.col("occ"), lambda b: b["id"] > a["id"]),
                lambda b: F.struct(
                    a["id"].alias("id_a"),
                    b["id"].alias("id_b"),
                    a["pos"].alias("pos_a"),
                    b["pos"].alias("pos_b"),
                ),
            ),
        )
    )
    hits = lists.select(F.explode(pair).alias("p")).select("p.*")
    # gaps-and-islands per diagonal: pos_a is unique within
    # (id_a, id_b, diag) — pos_b = pos_a - diag — so row_number is
    # deterministic. groupBy(... island) reuses the window's hash
    # partitioning (subset of the grouping keys): one exchange total.
    diag = (F.col("pos_a") - F.col("pos_b")).alias("diag")
    w = W.partitionBy("id_a", "id_b", "diag").orderBy("pos_a")
    isl = hits.select("id_a", "id_b", diag, "pos_a").withColumn(
        "island", F.col("pos_a") - F.row_number().over(w)
    )
    spans = isl.groupBy("id_a", "id_b", "diag", "island").agg(
        F.min("pos_a").alias("a_start"),
        (F.max("pos_a") + F.lit(k - 1)).alias("a_end"),
    )
    return (
        spans.select(
            "id_a",
            "id_b",
            "a_start",
            "a_end",
            (F.col("a_start") - F.col("diag")).alias("b_start"),
            (F.col("a_end") - F.col("diag")).alias("b_end"),
            (F.col("a_end") - F.col("a_start") + 1).alias("match_len"),
        )
        .filter(F.col("match_len") >= min_len)
    )


def remove_matched_spans(
    docs: DataFrame,
    spans: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Cut duplicated substrings out of the corpus — the removal half of
    Lee et al. 2021 (arXiv:2107.06499 keeps ONE occurrence of each
    repeated substring): for every span pair the lower-id document keeps
    its copy and the range ``[b_start, b_end]`` is cut from the higher-id
    document. Overlapping/adjacent cut ranges within a document are
    union-merged first (gaps-and-islands interval merge: a range starting
    beyond the running max end opens a new island), so nested or chained
    matches never double-remove.

    Returns (id, clean_text, n_tokens, n_removed) for EVERY input
    document; ``clean_text`` is the kept tokens joined by single spaces
    (the canonical tokenized form — original whitespace/punctuation in
    removed regions is not reconstructable).

    Scale shape: one window + one groupBy per removal (both keyed by doc
    id, second reuses the first's partitioning), then a broadcast-joinable
    per-doc range list against the corpus scan — no shuffle of the
    documents themselves when ranges broadcast.
    """
    from pyspark.sql import Window as W

    cuts = spans.select(
        F.col("id_b").alias("id"),
        F.col("b_start").alias("s"),
        F.col("b_end").alias("e"),
    ).distinct()
    w = W.partitionBy("id").orderBy("s", "e")
    prev_max = F.max("e").over(w.rowsBetween(W.unboundedPreceding, -1))
    marked = cuts.withColumn(
        "new_island",
        F.when(prev_max.isNull() | (F.col("s") > prev_max), 1).otherwise(0),
    ).withColumn(
        "island", F.sum("new_island").over(w.rowsBetween(W.unboundedPreceding, 0))
    )
    merged = marked.groupBy("id", "island").agg(
        F.min("s").alias("s"), F.max("e").alias("e")
    )
    ranges = merged.groupBy("id").agg(
        F.sort_array(F.collect_list(F.struct("s", "e"))).alias("ranges")
    )
    toks = tokenize_col(text_col)
    base = docs.select(F.col(id_col).alias("id"), toks.alias("_toks"))
    joined = base.join(F.broadcast(ranges), "id", "left")
    # guard: sequence() counts DOWN when stop < start, so an empty doc
    # would build [1, 0] — gate on size >= 1 like shingles()
    idx = F.when(
        F.size("_toks") >= 1,
        F.sequence(F.lit(1).cast("long"), F.size("_toks").cast("long")),
    ).otherwise(F.array().cast("array<bigint>"))
    keep_idx = F.filter(
        idx,
        lambda i: ~F.exists(
            F.coalesce(
                F.col("ranges"), F.array().cast("array<struct<s:bigint,e:bigint>>")
            ),
            lambda r: (i >= r["s"]) & (i <= r["e"]),
        ),
    )
    return joined.select(
        "id",
        F.concat_ws(
            " ", F.transform(keep_idx, lambda i: F.element_at("_toks", i.cast("int")))
        ).alias("clean_text"),
        F.size("_toks").cast("long").alias("n_tokens"),
        (F.size("_toks") - F.size(keep_idx)).cast("long").alias("n_removed"),
    )


def dup_clusters(pairs: DataFrame, max_iters: int = 30) -> DataFrame:
    """Connected components over near-dup pairs -> (id, cluster_id) with
    cluster_id = min doc id of the component (deterministic canonical
    representative).

    Alternating large-star/small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14): each round is one
    large-star (attach every strictly-larger neighbor of u to the minimum
    of u's closed neighborhood) followed by one small-star (direct each
    edge from its larger endpoint, attach the smaller endpoints and u
    itself to the neighborhood minimum). Converges in O(log n) rounds on
    ANY graph shape — min-label propagation advances one hop per round
    and crawls on chain-shaped components; this halves chains every
    round. At fixpoint the edge set is a star forest: every non-minimum
    node points at its component minimum.

    Raises RuntimeError on iteration exhaustion instead of returning a
    silently-unconverged labeling. Lineage is truncated per round with
    localCheckpoint (cluster deployments: checkpoint to reliable
    storage); the convergence probe is a single tiny (count, hash-sum)
    aggregate per round.
    """
    e = (
        pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    prev_sig = None
    converged = False
    rounds = 0
    for rounds in range(1, max_iters + 1):
        # large-star over both edge directions
        nbrs = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (
            nbrs.groupBy("u")
            .agg(F.min("v").alias("_mn"))
            .select("u", F.least("u", "_mn").alias("m"))
        )
        large = (
            nbrs.filter(F.col("v") > F.col("u"))
            .join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star: direct each edge from the larger endpoint (large-star
        # output already satisfies u > v; greatest/least is cheap insurance)
        dire = large.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        mins2 = dire.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            dire.join(mins2, "u")
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .union(mins2.select(F.col("u").alias("a"), F.col("m").alias("b")))
            .filter(F.col("a") != F.col("b"))
            .select(F.col("a").alias("u"), F.col("b").alias("v"))
            .distinct()
        )
        # r17 note: two cheaper-looking round shapes were implemented and
        # measured interleaved (see OPTIMIZATION_r17.md): persist + a
        # single signature job (one driver round-trip fewer) ran 5.2x
        # SLOWER (columnar InMemoryRelation build cost per round), and an
        # AQE-off lazy checkpoint + single job ran 3.1x slower (loses
        # AQE's coalescing of the tiny per-round shuffles). The eager
        # checkpoint + separate signature probe stays — per-round job
        # LATENCY is not the wall; execution mode is.
        e = small.localCheckpoint(eager=True)
        # convergence signature: (count, xor of edge hashes) — xor is
        # order-independent and cannot overflow under ANSI mode (a sum of
        # xxhash64 values does)
        row = e.agg(
            F.count(F.lit(1)).alias("c"),
            F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("h"),
        ).first()
        sig = (row["c"], row["h"])
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    dup_clusters.last_rounds = rounds
    if not converged:
        raise RuntimeError(
            f"dup_clusters did not converge within {max_iters} large/small-star "
            "rounds — graph is pathological or max_iters too small"
        )
    # star forest: edges point non-center nodes at the component minimum;
    # centers never appear on the left side.
    centers = (
        e.select(F.col("v").alias("id"))
        .distinct()
        .join(e.select(F.col("u").alias("id")).distinct(), "id", "left_anti")
    )
    return (
        e.select(F.col("u").alias("id"), F.col("v").alias("cluster_id"))
        .union(centers.select("id", F.col("id").alias("cluster_id")))
        .distinct()
    )


# ---------------------------------------------------------------------------
# Paragraph-hash dedup (CCNet / RefinedWeb style)
# ---------------------------------------------------------------------------


def paragraph_segments(
    df: DataFrame,
    id_col: str,
    text_col: str,
    sep: str | None = None,
    window: int = 20,
) -> DataFrame:
    """Deterministic paragraph segmentation: (id, pos, seg).

    With ``sep`` (e.g. ``'\\n'`` on real web corpora), paragraphs are the
    separator-split chunks. Without it — the testdata's documents are flat
    word streams with no newline structure — paragraphs are consecutive
    non-overlapping ``window``-token chunks, which keeps the downstream
    dedup semantics identical while staying honest about the data.
    Narrow map + explode: zero shuffles."""
    if sep is not None:
        src = ensure_explode_parallelism(df).select(
            F.col(id_col).alias("id"), F.col(text_col).alias("__src")
        )
        segs = F.filter(F.split(F.col("__src"), sep), lambda s: s != "")
    else:
        # r16: token array materialized before the chunk lambda (the
        # shingles()/lm._bigrams inlining trap — a raw tokenizer
        # expression inside the lambda re-tokenizes per chunk)
        src = ensure_explode_parallelism(df).select(
            F.col(id_col).alias("id"), tokenize_col(text_col).alias("__src")
        )
        toks = F.col("__src")
        n_seg = F.ceil(F.size(toks) / F.lit(float(window))).cast("int")
        segs = F.when(
            F.size(toks) > 0,
            F.transform(
                F.sequence(F.lit(0), n_seg - 1),
                lambda i: F.concat_ws(" ", F.slice(toks, i * window + 1, window)),
            ),
        ).otherwise(F.array().cast("array<string>"))
    return src.select("id", F.posexplode(segs).alias("pos", "seg"))


def _reassemble_segments(marked: DataFrame, joiner: str) -> DataFrame:
    """Shared reassembly for the two CCNet line-hash halves
    (paragraph_dedup / within_doc_dedup): collapse a marked
    (id, pos, seg, keep) frame to one row per document —
    (id, n_segments, n_removed, clean_text), surviving segments joined
    by ``joiner`` in position order."""
    kept_seg = F.when(F.col("keep"), F.struct("pos", "seg"))
    return marked.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum(F.when(F.col("keep"), 0).otherwise(1)).cast("long").alias("n_removed"),
        F.concat_ws(
            joiner,
            F.transform(
                F.array_sort(F.collect_list(kept_seg)), lambda s: s["seg"]
            ),
        ).alias("clean_text"),
    )


def paragraph_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    sep: str | None = None,
    window: int = 20,
    joiner: str | None = None,
) -> DataFrame:
    """Cross-document paragraph-hash dedup with keep-first-occurrence
    (the CCNet / RefinedWeb line-hash pass: a paragraph seen in more than
    one document survives only at its first corpus position, ordered by
    (doc id, position)). Returns one row per input document THAT YIELDS
    AT LEAST ONE SEGMENT: (id, n_segments, n_removed, clean_text) —
    clean_text is the document reassembled from its surviving paragraphs
    in order. Documents whose text produces zero segments (empty or
    whitespace-only, same contract as paragraph_segments) are absent
    from the output; a caller replacing text with clean_text should
    left-join this result back to the input ids and coalesce.

    Scale shape: segment hashes aggregate once (shuffle on hash: count of
    distinct holder docs + lexicographic-min (id, pos) = the canonical
    copy), segments join that aggregate on the same hash key, and docs
    reassemble with one groupBy on id — three shuffles total, all on
    natural keys, no collect, no Python. Per-doc state (collect_list of
    surviving segments) is bounded by document length, same bound as the
    tokenizer itself.

    Reference: the engine-side analog of the reference's keyed
    deduplication jobs (dwm/UniqueVisitApp.java:44-50 keeps first-per-key
    with state); here the key is the paragraph hash and "first" is the
    corpus-order canonical copy.
    """
    seg = paragraph_segments(df, id_col, text_col, sep=sep, window=window)
    seg = seg.withColumn("h", F.md5("seg"))
    stats = seg.groupBy("h").agg(
        F.countDistinct("id").alias("n_docs"),
        F.min(F.struct("id", "pos")).alias("first"),
    )
    marked = seg.join(stats, "h").withColumn(
        "keep",
        (F.col("n_docs") <= 1)
        | (
            (F.col("id") == F.col("first.id"))
            & (F.col("pos") == F.col("first.pos"))
        ),
    )
    # clean_text joins with the separator the segmentation split on (sep
    # taken literally; pass ``joiner`` explicitly when sep is a regex),
    # so the op is idempotent and downstream separator-based processing
    # keeps working; window mode joins with a single space as before
    return _reassemble_segments(
        marked, joiner if joiner is not None else (sep if sep is not None else " ")
    )


def boilerplate_strip(
    df: DataFrame,
    id_col: str,
    text_col: str,
    sep: str | None = None,
    window: int = 20,
    max_df: int = 1,
    joiner: str | None = None,
) -> DataFrame:
    """Corpus-frequency boilerplate removal: a segment (paragraph / line /
    window-token chunk, same segmentation contract as paragraph_segments)
    that appears in MORE THAN ``max_df`` distinct documents is dropped
    from EVERY document — no canonical copy survives. This is the CCNet /
    RefinedWeb line-DF boilerplate pass (nav bars, cookie banners, footers
    repeat across a site's pages; the line itself is noise, so unlike
    paragraph_dedup's keep-first-occurrence there is nothing worth
    keeping). Output contract matches paragraph_dedup:
    (id, n_segments, n_removed, clean_text), zero-segment docs absent.

    Scale shape: one aggregation on the segment hash (distinct-holder
    count), one hash join back, one reassembly groupBy on id — three
    shuffles on natural keys. The hash aggregate is the inverted line
    index; hot boilerplate lines are exactly the high-df keys, and they
    carry only a count here (never a pair expansion), so skew is bounded
    by construction.
    """
    seg = paragraph_segments(df, id_col, text_col, sep=sep, window=window)
    seg = seg.withColumn("h", F.md5("seg"))
    stats = seg.groupBy("h").agg(F.countDistinct("id").alias("n_docs"))
    marked = seg.join(stats, "h").withColumn("keep", F.col("n_docs") <= max_df)
    return _reassemble_segments(
        marked, joiner if joiner is not None else (sep if sep is not None else " ")
    )


def cluster_representatives(
    clusters: DataFrame, quality: DataFrame, score_col: str
) -> DataFrame:
    """Quality-based cluster representative selection: instead of the
    min-id canonical keep (dup_clusters' cluster_id), keep the member
    with the HIGHEST quality score, ties broken toward the smaller id —
    the curation policy real pipelines use once a quality signal exists
    (keep the best copy, drop the rest).

    ``clusters`` is dup_clusters output (id, cluster_id); ``quality`` has
    (id, score_col). One broadcast-eligible join + one groupBy on
    cluster_id. The (score, -id) struct max makes the argmax a single
    shuffle-safe aggregate — no window, no per-cluster sort."""
    j = clusters.join(quality, "id")
    best = F.max(
        F.struct(
            F.col(score_col).alias("q"), (-F.col("id")).cast("long").alias("negid")
        )
    )
    return (
        j.groupBy("cluster_id")
        .agg(best.alias("_b"), F.count(F.lit(1)).alias("n_members"))
        .select(
            "cluster_id",
            (-F.col("_b.negid")).cast("long").alias("keep_id"),
            "n_members",
            F.col("_b.q").alias("keep_score"),
        )
    )


def edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_dist: int = 64,
    bits: int = 16,
    max_hamming: int = 3,
    n_splits: int = 2,
) -> DataFrame:
    """Character-level near-dup pairs: SimHash blocking generates the
    candidates, exact Levenshtein distance verifies them — the
    edit-distance modality of the dedup family (catches small in-place
    edits that token-set measures dilute). Returns
    (id_a, id_b, edit_dist) for pairs within ``max_dist`` edits whose
    signatures fall within ``max_hamming``.

    Scale: candidates are simhash-bucket collisions (linear generation);
    the Levenshtein DP runs per CANDIDATE only, THRESHOLDED at
    ``max_dist`` (r12): Spark's ``levenshtein(l, r, k)`` computes the
    banded O((2k+1) * len) DP and returns -1 the moment the distance
    provably exceeds k — on a template-heavy corpus most candidates are
    far apart, so the early exit is the common path. Output-identical
    to the untruncated form: a surviving pair's thresholded distance IS
    its exact distance, and a -1 row is exactly a row the old
    ``edit_dist <= max_dist`` filter dropped (the oracle's untruncated
    SQL levenshtein agrees on every surviving row)."""
    cands = simhash_near_pairs(
        df, id_col, text_col, bits=bits, max_hamming=max_hamming, n_splits=n_splits
    )
    t = df.select(F.col(id_col).alias("_tid"), F.col(text_col).alias("_t"))
    return (
        cands.join(
            t.select(F.col("_tid").alias("id_a"), F.col("_t").alias("_ta")), "id_a"
        )
        .join(
            t.select(F.col("_tid").alias("id_b"), F.col("_t").alias("_tb")), "id_b"
        )
        .withColumn(
            "edit_dist", F.levenshtein("_ta", "_tb", max_dist).cast("long")
        )
        .filter((F.col("edit_dist") >= 0) & (F.col("edit_dist") <= max_dist))
        .select("id_a", "id_b", "edit_dist")
    )


def within_doc_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    sep: str | None = None,
    window: int = 20,
    joiner: str | None = None,
) -> DataFrame:
    """WITHIN-document repeated-segment removal — the in-document half
    of the CCNet line-hash cleanup (boilerplate that repeats inside one
    page: nav blocks, footers, copy-pasted paragraphs).
    :func:`paragraph_dedup` is the cross-document half; this keeps the
    FIRST occurrence of each segment hash per document. Same output
    contract as paragraph_dedup: one row per document that yields at
    least one segment — (id, n_segments, n_removed, clean_text).

    Scale shape: one window over (id, segment-hash) ordered by position
    (shuffle on the doc-scoped key) and one reassembly groupBy on id —
    both natural per-document keys, so the op is embarrassingly
    document-parallel; no corpus-wide state at all (unlike the
    cross-doc pass, there is no global hash aggregate)."""
    seg = paragraph_segments(df, id_col, text_col, sep=sep, window=window)
    from pyspark.sql import Window as W

    w = W.partitionBy("id", F.md5("seg")).orderBy("pos")
    marked = seg.withColumn("keep", F.row_number().over(w) == 1)
    return _reassemble_segments(
        marked, joiner if joiner is not None else (sep if sep is not None else " ")
    )


def corpus_diff(
    old: DataFrame, new: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Snapshot diff between two corpus versions (crawl N vs crawl N+1):
    one row per doc id present in either — (id, status) with status in
    ('added', 'removed', 'changed', 'unchanged'), decided by content
    digest. The data-versioning primitive an incremental pipeline runs
    before re-curating: only 'added' + 'changed' need to flow through
    the hygiene stack (feed them to incremental_dedup), 'removed' feeds
    index retirement.

    One full-outer join on the id — both sides reduce to (id, digest)
    first, so the shuffle moves two narrow columns, never text. At
    100 TB this is the standard snapshot-reconciliation join; with both
    snapshots bucketed by id it is co-located and shuffle-free."""
    # presence is decided by SIDE membership, not digest nullability —
    # a NULL-text row (md5(NULL) = NULL) present in both snapshots must
    # classify by digest comparison, never as added/removed
    o = old.select(
        F.col(id_col).alias("id"),
        F.lit(True).alias("_in_old"),
        F.md5(F.col(text_col)).alias("_od"),
    )
    n = new.select(
        F.col(id_col).alias("id"),
        F.lit(True).alias("_in_new"),
        F.md5(F.col(text_col)).alias("_nd"),
    )
    return o.join(n, "id", "full_outer").select(
        "id",
        F.when(F.col("_in_old").isNull(), F.lit("added"))
        .when(F.col("_in_new").isNull(), F.lit("removed"))
        .when(F.col("_od").eqNullSafe(F.col("_nd")), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
        .alias("status"),
    )

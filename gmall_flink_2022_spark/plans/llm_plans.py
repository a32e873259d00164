"""LLM training-data pipeline queries (dedup / similarity / text analysis)
with DuckDB oracles.

Float-parity convention: every floating-point result is produced by the
SAME sequence of double operations on both engines — DuckDB's
``list_reduce`` left-fold matches Spark's ``F.aggregate`` with a 0.0 seed
bit-for-bit, integer counts divide in one double op — so hash comparison
is exact with no rounding fudge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..llm import dedup, similarity, text, urls as urls_mod
from ..sources.io import read_table
from .registry import REGISTRY, register

# ---------------------------------------------------------------- SQL shards
TOKS = "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '')"


def shingle_cte(source: str = "documents") -> str:
    """word-3-gram shingle CTEs over ``source`` (mirrors llm.dedup.shingles)."""
    return f"""
tk AS (SELECT doc_id, {TOKS} AS toks FROM {source}),
sh AS (
    SELECT DISTINCT doc_id,
           toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
    FROM tk, UNNEST(generate_series(1, len(toks) - 2)) AS t(i)
    WHERE len(toks) >= 3
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id)
"""


SHINGLE_CTE = shingle_cte("documents")


def _dot(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(list_zip({a}, {b}), "
        "s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)), (x, y) -> x + y)"
    )


def _norm(a: str) -> str:
    return (
        f"sqrt(list_reduce(list_transform({a}, "
        "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y))"
    )


# The sampling family's deterministic u32: first 8 hex chars of md5(id)
# as an integer, rendered in SQL with the strpos fold (DuckDB's from_hex
# yields BLOB, not castable to BIGINT).
def _u32_sql(expr: str) -> str:
    return (
        "list_reduce(list_transform(generate_series(1, 8), i -> "
        f"CAST(strpos('0123456789abcdef', substr(md5(CAST({expr} AS VARCHAR)), i, 1)) - 1 AS BIGINT)), "
        "(a, d) -> a * 16 + d)"
    )


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "documents")


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "embeddings")


# ------------------------------------------------------------- exact dedup
@register(
    "llm_dedup_exact",
    oracle="""
    SELECT md5(text) AS digest, MIN(doc_id) AS keep_id, COUNT(*) AS dup_ct
    FROM documents GROUP BY md5(text)
    """,
    survey_ref="extension: exact dedup (hash-groupBy)",
    tags=("llm", "dedup"),
)
def llm_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup(_docs(spark, sf_dir), "doc_id", "text")


# ------------------------------------------------------- n-gram Jaccard dedup
# Headline variant: hot-shingle cap ON (df<=64 shingles generate
# candidates; `common` counts capped shingles only) — the bounded-task
# shape that survives skew at 100 TB. The uncapped exact worst case stays
# available as llm_dedup_ngram_exact below.
@register(
    "llm_dedup_ngram",
    oracle=f"""
    WITH {SHINGLE_CTE},
    keep AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 64),
    pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
        FROM sh a
        JOIN keep k ON a.shingle = k.shingle
        JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b, common, sa.n AS n_a, sb.n AS n_b,
           CAST(common AS DOUBLE) / CAST(sa.n + sb.n - common AS DOUBLE) AS jaccard
    FROM pairs
    JOIN sizes sa ON id_a = sa.doc_id
    JOIN sizes sb ON id_b = sb.doc_id
    WHERE CAST(common AS DOUBLE) / CAST(sa.n + sb.n - common AS DOUBLE) >= 0.5
    """,
    survey_ref="extension: n-gram Jaccard near-dup (inverted-index pair gen, "
    "df-capped candidate generation — the skew-bounded 100 TB default)",
    tags=("llm", "dedup"),
    bench=True,
)
def llm_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(
        _docs(spark, sf_dir), "doc_id", "text", n=3, threshold=0.5
    )


@register(
    "llm_dedup_ngram_exact",
    oracle=f"""
    WITH {SHINGLE_CTE},
    pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b, common, sa.n AS n_a, sb.n AS n_b,
           CAST(common AS DOUBLE) / CAST(sa.n + sb.n - common AS DOUBLE) AS jaccard
    FROM pairs
    JOIN sizes sa ON id_a = sa.doc_id
    JOIN sizes sb ON id_b = sb.doc_id
    WHERE CAST(common AS DOUBLE) / CAST(sa.n + sb.n - common AS DOUBLE) >= 0.5
    """,
    survey_ref="extension: n-gram Jaccard near-dup, UNCAPPED exact all-pairs "
    "(the documented worst-case baseline; opt-in — one hot shingle expands "
    "df^2/2 structs in a single task)",
    tags=("llm", "dedup", "exact"),
)
def llm_dedup_ngram_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(
        _docs(spark, sf_dir), "doc_id", "text", n=3, threshold=0.5,
        max_shingle_df=None,
    )


@register(
    "llm_dedup_prefix_jaccard",
    # The oracle is the brute-force exact all-pairs join at the same
    # threshold: prefix filtering promises ZERO recall loss, so the
    # strongest possible check is equality with the exhaustive answer —
    # any pair the rarest-first prefix index fails to surface (or any
    # spurious survivor) hash-mismatches. Threshold is an integer
    # percentage on both sides so the cut can't straddle float rounding.
    oracle=f"""
    WITH {SHINGLE_CTE},
    pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b, common, sa.n AS n_a, sb.n AS n_b,
           CAST(common AS DOUBLE) / CAST(sa.n + sb.n - common AS DOUBLE) AS jaccard
    FROM pairs
    JOIN sizes sa ON id_a = sa.doc_id
    JOIN sizes sb ON id_b = sb.doc_id
    WHERE 100 * common >= 60 * (sa.n + sb.n - common)
    """,
    survey_ref="extension: EXACT similarity join via prefix filtering "
    "(AllPairs / PPJoin candidate generation — rarest-shingle prefix "
    "index probed by full shingle sets; the third candidate family next "
    "to LSH banding and the df-capped inverted index, with zero recall "
    "loss by theorem)",
    tags=("llm", "dedup", "exact"),
    bench=True,
)
def llm_dedup_prefix_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.prefix_jaccard_pairs(
        _docs(spark, sf_dir), "doc_id", "text", n=3, threshold_pct=60
    )


# ----------------------------------------------- substring-level exact dedup
# Planted corpus: the synthetic documents share essentially no 8-token
# runs (small vocab, ~30^8 gram space), so the raw-table query is
# vacuously near-empty. Both engines derive the SAME augmented corpus:
# each doc gets a twin (+1e6 id) whose text is a doc-specific prefix +
# substr(text, 30, 300) + doc-specific suffix — a guaranteed long shared
# token run with its source (possibly clipped mid-token at both cut
# points, identically on both engines) and nothing shared with anyone
# else. The span query must recover exactly the planted runs with exact
# 1-based token boundaries — a full hash contract.
_SUBSTR_AUG_CTE = """
aug AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000,
           'pp' || CAST(doc_id AS VARCHAR) || ' q ' || substr(text, 30, 300)
                || ' zz' || CAST(doc_id AS VARCHAR)
    FROM documents
)
"""


def _docs_substring_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark rendering of _SUBSTR_AUG_CTE (F.substring == DuckDB substr:
    1-based, length-capped)."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    twin = d.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(
            F.lit("pp"),
            F.col("doc_id").cast("string"),
            F.lit(" q "),
            F.substring("text", 30, 300),
            F.lit(" zz"),
            F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    return d.unionByName(twin)


# span-detection CTE chain shared by the span query and the removal query
# (k=8, min_len=12, max_gram_df=16 — mirrors substring_match_spans)
_SUBSTR_SPAN_CTES = f"""{_SUBSTR_AUG_CTE},
    tk AS (SELECT doc_id, {TOKS} AS toks FROM aug),
    g AS (
        SELECT doc_id AS id, i AS pos,
               array_to_string(toks[i:i+7], ' ') AS gram
        FROM tk, UNNEST(generate_series(1, len(toks) - 7)) AS t(i)
        WHERE len(toks) >= 8
    ),
    keep AS (SELECT gram FROM g GROUP BY gram
             HAVING COUNT(*) <= 16 AND COUNT(DISTINCT id) >= 2),
    kg AS (SELECT g.* FROM g JOIN keep USING (gram)),
    hits AS (
        SELECT a.id AS id_a, b.id AS id_b, a.pos AS pos_a, b.pos AS pos_b
        FROM kg a JOIN kg b ON a.gram = b.gram AND a.id < b.id
    ),
    isl AS (
        SELECT id_a, id_b, pos_a - pos_b AS diag, pos_a,
               pos_a - ROW_NUMBER() OVER (
                   PARTITION BY id_a, id_b, pos_a - pos_b ORDER BY pos_a
               ) AS island
        FROM hits
    ),
    sp AS (
        SELECT id_a, id_b, diag,
               MIN(pos_a) AS a_start, MAX(pos_a) + 7 AS a_end
        FROM isl GROUP BY id_a, id_b, diag, island
    ),
    fs AS (
        SELECT id_a, id_b, a_start, a_end,
               a_start - diag AS b_start, a_end - diag AS b_end,
               a_end - a_start + 1 AS match_len
        FROM sp WHERE a_end - a_start + 1 >= 12
    )"""


@register(
    "llm_substring_dedup",
    oracle=f"""
    WITH {_SUBSTR_SPAN_CTES}
    SELECT id_a, id_b,
           CAST(a_start AS BIGINT) AS a_start,
           CAST(a_end AS BIGINT) AS a_end,
           CAST(b_start AS BIGINT) AS b_start,
           CAST(b_end AS BIGINT) AS b_end,
           CAST(match_len AS BIGINT) AS match_len
    FROM fs
    """,
    survey_ref="extension: substring-level exact dedup (Lee et al. 2021 "
    "arXiv:2107.06499 suffix-array dedup, Spark-native: positional k-gram "
    "inverted index -> diagonal gaps-and-islands -> exact token spans; "
    "df-capped candidate generation, no doc x doc product)",
    tags=("llm", "dedup"),
    bench=True,
)
def llm_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.substring_match_spans(
        _docs_substring_planted(spark, sf_dir), "doc_id", "text",
        k=8, min_len=12, max_gram_df=16,
    )


@register(
    "llm_substring_dedup_removal",
    oracle=f"""
    WITH {_SUBSTR_SPAN_CTES},
    cuts AS (SELECT DISTINCT id_b AS id, b_start AS s, b_end AS e FROM fs),
    i1 AS (
        SELECT id, s, e,
               CASE WHEN s > COALESCE(MAX(e) OVER (
                        PARTITION BY id ORDER BY s, e
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                    ), -1) THEN 1 ELSE 0 END AS ni
        FROM cuts
    ),
    i2 AS (
        SELECT id, s, e,
               SUM(ni) OVER (PARTITION BY id ORDER BY s, e
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        FROM i1
    ),
    mr AS (SELECT id, MIN(s) AS s, MAX(e) AS e FROM i2 GROUP BY id, island),
    tp AS (
        SELECT doc_id AS id, i AS pos, toks[i] AS tok
        FROM tk, UNNEST(generate_series(1, len(toks))) AS t(i)
        WHERE len(toks) >= 1
    ),
    rm AS (
        SELECT DISTINCT tp.id, tp.pos
        FROM tp JOIN mr ON mr.id = tp.id AND tp.pos BETWEEN mr.s AND mr.e
    ),
    kept AS (
        SELECT tp.id, tp.pos, tp.tok
        FROM tp LEFT JOIN rm ON tp.id = rm.id AND tp.pos = rm.pos
        WHERE rm.id IS NULL
    ),
    ka AS (
        SELECT id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
               COUNT(*) AS n_kept
        FROM kept GROUP BY id
    )
    SELECT tk.doc_id AS id,
           COALESCE(ka.clean_text, '') AS clean_text,
           CAST(len(tk.toks) AS BIGINT) AS n_tokens,
           CAST(len(tk.toks) - COALESCE(ka.n_kept, 0) AS BIGINT) AS n_removed
    FROM tk LEFT JOIN ka ON tk.doc_id = ka.id
    """,
    survey_ref="extension: substring-dedup REMOVAL (the Lee et al. 2021 "
    "keep-one-occurrence cut: lower-id doc keeps its copy, the matched "
    "range is cut from the higher-id doc; overlapping cut ranges "
    "union-merged before removal)",
    tags=("llm", "dedup"),
)
def llm_substring_dedup_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_substring_planted(spark, sf_dir)
    spans = dedup.substring_match_spans(
        docs, "doc_id", "text", k=8, min_len=12, max_gram_df=16
    )
    return dedup.remove_matched_spans(docs, spans, "doc_id", "text")


# ------------------------------------------------------------ MinHash + LSH
_NH, _BANDS = 8, 2
_MH_COLS = ",\n           ".join(
    f"MIN(substr(md5('{i}|' || shingle), 1, 8)) AS mh{i}" for i in range(_NH)
)
_R = _NH // _BANDS
_BANDS_SQL = ", ".join(
    "concat_ws('_', '%d', %s)" % (b, ", ".join(f"mh{b * _R + r}" for r in range(_R)))
    for b in range(_BANDS)
)


@register(
    "llm_dedup_minhash",
    oracle=f"""
    WITH {SHINGLE_CTE},
    sig AS (
        SELECT doc_id,
           {_MH_COLS}
        FROM sh GROUP BY doc_id
    ),
    bk AS (
        SELECT DISTINCT doc_id, bucket
        FROM (SELECT doc_id, UNNEST([{_BANDS_SQL}]) AS bucket FROM sig)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
    ),
    common AS (
        SELECT c.id_a, c.id_b, COUNT(*) AS common
        FROM cand c
        JOIN sh a ON a.doc_id = c.id_a
        JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
        GROUP BY c.id_a, c.id_b
    )
    SELECT id_a, id_b,
           CAST(common AS DOUBLE) / CAST(sa.n + sb.n - common AS DOUBLE) AS jaccard
    FROM common
    JOIN sizes sa ON id_a = sa.doc_id
    JOIN sizes sb ON id_b = sb.doc_id
    WHERE CAST(common AS DOUBLE) / CAST(sa.n + sb.n - common AS DOUBLE) >= 0.4
    """,
    survey_ref="extension: MinHash+LSH near-dup (banded buckets, verified)",
    tags=("llm", "dedup"),
    bench=True,
)
def llm_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_lsh_pairs(
        _docs(spark, sf_dir),
        "doc_id",
        "text",
        n=3,
        num_hashes=_NH,
        bands=_BANDS,
        threshold=0.4,
    )


# ---------------------------------------- incremental dedup vs persisted index
# (llm/incremental.py) — the continuous-ingest shape: arrivals dedupe
# against the corpus through the DimStore-persisted digest/signature
# index; corpus text is never re-read (plan-asserted in
# tests/test_plan_quality.py). The oracle recomputes the same decisions
# from the raw tables — the index is an implementation detail the
# contract must be equivalent to.
_INC_AGREE = " + ".join(
    f"(CASE WHEN s.mh{i} = t.mh{i} THEN 1 ELSE 0 END)" for i in range(_NH)
)
_INC_MIN_AGREE = 4


def _inc_round_sql(u: str, corpus: str, arrivals: str) -> str:
    """One incremental-dedup round as a CTE chain: decisions ``d{u}`` of
    ``arrivals`` (doc_id, text) against ``corpus`` (doc_id, text) —
    exact digest hit, else best signature-agreement >= {_INC_MIN_AGREE}
    among LSH band collisions, else new. Mirrors
    llm/incremental.py::incremental_dedup term for term."""
    sh = (
        "SELECT DISTINCT doc_id, "
        "toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle "
        "FROM {src}, UNNEST(generate_series(1, len(toks) - 2)) AS t(i) "
        "WHERE len(toks) >= 3"
    )
    return f"""
    {u}cd AS (SELECT md5(text) AS digest, MIN(doc_id) AS keep_id
              FROM {corpus} GROUP BY md5(text)),
    {u}ex AS (SELECT a.doc_id, a.text, c.keep_id AS exact_match
              FROM {arrivals} a LEFT JOIN {u}cd c ON md5(a.text) = c.digest),
    {u}ne AS (SELECT doc_id, text FROM {u}ex WHERE exact_match IS NULL),
    {u}ctk AS (SELECT doc_id, {TOKS} AS toks FROM {corpus}),
    {u}csh AS ({sh.format(src=u + "ctk")}),
    {u}csig AS (SELECT doc_id, {_MH_COLS} FROM {u}csh GROUP BY doc_id),
    {u}atk AS (SELECT doc_id, {TOKS} AS toks FROM {u}ne),
    {u}ash AS ({sh.format(src=u + "atk")}),
    {u}asig AS (SELECT doc_id, {_MH_COLS} FROM {u}ash GROUP BY doc_id),
    {u}abk AS (SELECT DISTINCT doc_id, bucket FROM
               (SELECT doc_id, UNNEST([{_BANDS_SQL}]) AS bucket FROM {u}asig)),
    {u}cbk AS (SELECT DISTINCT doc_id, bucket FROM
               (SELECT doc_id, UNNEST([{_BANDS_SQL}]) AS bucket FROM {u}csig)),
    {u}cand AS (SELECT DISTINCT a.doc_id AS a_id, c.doc_id AS c_id
                FROM {u}abk a JOIN {u}cbk c ON a.bucket = c.bucket),
    {u}ver AS (SELECT a_id, c_id, {_INC_AGREE} AS agree
               FROM {u}cand JOIN {u}asig s ON s.doc_id = a_id
               JOIN {u}csig t ON t.doc_id = c_id),
    {u}best AS (SELECT a_id, c_id, agree FROM (
                  SELECT a_id, c_id, agree,
                         ROW_NUMBER() OVER (PARTITION BY a_id
                                            ORDER BY agree DESC, c_id) AS rn
                  FROM {u}ver WHERE agree >= {_INC_MIN_AGREE}) WHERE rn = 1),
    d{u} AS (SELECT e.doc_id,
                    CASE WHEN e.exact_match IS NOT NULL THEN 'exact'
                         WHEN b.a_id IS NOT NULL THEN 'near'
                         ELSE 'new' END AS dup_kind,
                    COALESCE(e.exact_match, b.c_id) AS match_id,
                    CAST(CASE WHEN e.exact_match IS NOT NULL THEN {_NH}
                              WHEN b.a_id IS NOT NULL THEN b.agree
                         END AS BIGINT) AS agree_n
             FROM {u}ex e LEFT JOIN {u}best b ON e.doc_id = b.a_id)"""


# deterministic demo split: 80% of docs form the indexed corpus; arrivals
# are the other 20% (mostly new) plus planted exact replicas (id+100000)
# and planted near variants (id+200000, three appended tokens)
_INC_SPLIT_SQL = """
    corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 < 8),
    arrv AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 >= 8
             UNION ALL
             SELECT doc_id + 100000, text FROM corpus WHERE doc_id % 7 = 0
             UNION ALL
             SELECT doc_id + 200000, text || ' zz qq vv'
             FROM corpus WHERE doc_id % 11 = 0)"""


def _inc_corpus_arrivals(spark: SparkSession, sf_dir: str):
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 10 < 8)
    arrivals = (
        docs.filter(F.col("doc_id") % 10 >= 8)
        .unionByName(
            corpus.filter(F.col("doc_id") % 7 == 0).select(
                (F.col("doc_id") + 100000).alias("doc_id"), "text"
            )
        )
        .unionByName(
            corpus.filter(F.col("doc_id") % 11 == 0).select(
                (F.col("doc_id") + 200000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" zz qq vv")).alias("text"),
            )
        )
    )
    return corpus, arrivals


@register(
    "llm_dedup_incremental",
    oracle=f"""
    WITH {_INC_SPLIT_SQL},
    {_inc_round_sql("r1", "corpus", "arrv")}
    SELECT doc_id, dup_kind, match_id, agree_n FROM dr1
    """,
    survey_ref="extension: INCREMENTAL dedup against a persisted "
    "digest+MinHash index (DimStore S7 machinery, "
    "function/DimSinkFunction.java:29-66) — arrivals dedupe against the "
    "corpus without re-reading corpus text; new docs update the index "
    "(r5 VERDICT ask #2)",
    tags=("llm", "dedup", "incremental"),
    bench=True,
)
def llm_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from ..llm import incremental as inc
    from ..sources.dim_store import DimStore

    import shutil

    corpus, arrivals = _inc_corpus_arrivals(spark, sf_dir)
    store = DimStore(spark, tempfile.mkdtemp(prefix="gmall_dedup_idx_"))
    try:
        inc.build_dedup_index(store, corpus)
        # decisions are checkpointed inside ingest, so the index dir can
        # be removed before returning (no leak across bench re-runs)
        return inc.ingest_with_dedup(store, arrivals)
    finally:
        shutil.rmtree(store.root, ignore_errors=True)


# ----------------------------------- index lifecycle: vacuum + compaction
# (r6 VERDICT ask #3) — the continuous-ingest lifecycle end-to-end:
# bootstrap -> ingest batch 1 (index grows, auto-compaction keeps file
# count bounded) -> VACUUM docs removed from the corpus -> decide batch
# 2 against the retained index. The oracle replays the same two rounds
# against the equivalent logical corpus: round 2's corpus is
# (corpus - removed) + batch-1 'new' docs — exactly what the vacuumed
# index holds, because synthetic doc texts are per-doc unique (so every
# digest row's canonical holder is the doc itself). Compaction is
# covered implicitly: it must not change any decision.
_LIFE_ORACLE = f"""
    WITH {_INC_SPLIT_SQL},
    {_inc_round_sql("r1", "corpus", "arrv")},
    new1 AS (SELECT a.doc_id, a.text FROM arrv a
             JOIN dr1 d ON a.doc_id = d.doc_id WHERE d.dup_kind = 'new'),
    idx2 AS (SELECT doc_id, text FROM corpus WHERE doc_id % 13 <> 0
             UNION ALL SELECT doc_id, text FROM new1),
    arrv2 AS (SELECT doc_id + 300000 AS doc_id, text
              FROM corpus WHERE doc_id % 13 = 0
              UNION ALL
              SELECT doc_id + 400000, text
              FROM corpus WHERE doc_id % 17 = 0 AND doc_id % 13 <> 0
              UNION ALL
              SELECT doc_id + 500000, text || ' rr ss tt'
              FROM corpus WHERE doc_id % 19 = 0 AND doc_id % 13 <> 0),
    {_inc_round_sql("r2", "idx2", "arrv2")}
    SELECT doc_id, dup_kind, match_id, agree_n FROM dr2
    """


@register(
    "llm_dedup_index_lifecycle",
    oracle=_LIFE_ORACLE,
    survey_ref="extension: persisted-index LIFECYCLE (r6 VERDICT ask #3) "
    "— ingest grows the index under auto-compaction (bounded file "
    "count), vacuum_dedup_index drops removed docs' signature rows and "
    "their canonical digest rows, and the next batch's decisions see "
    "exactly the retained corpus: removed content re-registers, "
    "survivors still exact-hit. Rides DimStore's partition-pruned "
    "bucket rewrite (function/DimSinkFunction.java:29-66 analog)",
    tags=("llm", "dedup", "incremental"),
    bench=True,
)
def llm_dedup_index_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ..llm import incremental as inc
    from ..sources.dim_store import DimStore

    corpus, arrivals = _inc_corpus_arrivals(spark, sf_dir)
    surv = corpus.filter(F.col("doc_id") % 13 != 0)
    batch2 = (
        corpus.filter(F.col("doc_id") % 13 == 0)
        .select((F.col("doc_id") + 300000).alias("doc_id"), "text")
        .unionByName(
            surv.filter(F.col("doc_id") % 17 == 0).select(
                (F.col("doc_id") + 400000).alias("doc_id"), "text"
            )
        )
        .unionByName(
            surv.filter(F.col("doc_id") % 19 == 0).select(
                (F.col("doc_id") + 500000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" rr ss tt")).alias("text"),
            )
        )
    )
    # every=2: the bootstrap is each table's 1st upsert and the ingest
    # its 2nd, so auto-compaction still fires once per table inside the
    # chain (the path stays driver-exercised) without compacting after
    # the bootstrap too — the realistic every-N cadence
    store = DimStore(
        spark, tempfile.mkdtemp(prefix="gmall_dedup_life_"), auto_compact_every=2
    )
    try:
        inc.build_dedup_index(store, corpus)
        inc.ingest_with_dedup(store, arrivals)
        inc.vacuum_dedup_index(
            store, corpus.filter(F.col("doc_id") % 13 == 0).select("doc_id")
        )
        return inc.incremental_dedup(store, batch2).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(store.root, ignore_errors=True)


@register(
    "llm_dup_clusters_vacuum",
    # closure over the full edge union -> delete removed ids -> per
    # ORIGINAL cluster, surviving min becomes the label. (Clusters that
    # kept their min re-elect to the same label, so one MIN covers both
    # the re-elected and untouched cases.)
    oracle="""
    WITH RECURSIVE p AS (
        SELECT doc_id AS id_a, doc_id + 1 AS id_b
        FROM documents WHERE doc_id % 7 = 0
        UNION ALL
        SELECT doc_id + 1, doc_id + 2 FROM documents WHERE doc_id % 14 = 0
        UNION ALL
        SELECT doc_id + 1, doc_id + 8 FROM documents WHERE doc_id % 14 = 0
    ),
    e AS (SELECT id_a AS src, id_b AS dst FROM p
          UNION SELECT id_b, id_a FROM p),
    reach(id, lbl) AS (
        SELECT DISTINCT src, src FROM e
        UNION
        SELECT e.src, r.lbl FROM e JOIN reach r ON e.dst = r.id
    ),
    asg AS (SELECT id, MIN(lbl) AS orig FROM reach GROUP BY id),
    rem AS (SELECT doc_id AS id FROM documents WHERE doc_id % 14 = 0
            UNION
            SELECT doc_id + 8 FROM documents WHERE doc_id % 28 = 0),
    surv AS (SELECT a.id, a.orig FROM asg a
             LEFT JOIN rem r ON a.id = r.id WHERE r.id IS NULL),
    newl AS (SELECT orig, MIN(id) AS nl FROM surv GROUP BY orig)
    SELECT s.id, n.nl AS cluster_id
    FROM surv s JOIN newl n ON s.orig = n.orig
    """,
    survey_ref="extension: cluster-map retention — removed docs' member "
    "rows drop and clusters whose canonical minimum was removed "
    "re-elect min(survivors), preserving the min-label invariant later "
    "incremental updates depend on; the surviving partition is "
    "preserved (the map stores the quotient, not the edges — exact "
    "decremental splits need the pair table, documented trade)",
    tags=("llm", "dedup", "incremental"),
)
def llm_dup_clusters_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ..llm import incremental as inc
    from ..sources.dim_store import DimStore

    ids = _docs(spark, sf_dir).select("doc_id")
    b0 = ids.filter(F.col("doc_id") % 7 == 0).select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1).alias("id_b")
    )
    ext = ids.filter(F.col("doc_id") % 14 == 0)
    b1 = ext.select(
        (F.col("doc_id") + 1).alias("id_a"), (F.col("doc_id") + 2).alias("id_b")
    )
    b2 = ext.select(
        (F.col("doc_id") + 1).alias("id_a"), (F.col("doc_id") + 8).alias("id_b")
    )
    removed = (
        ids.filter(F.col("doc_id") % 14 == 0)
        .select("doc_id")
        .unionByName(
            ids.filter(F.col("doc_id") % 28 == 0).select(
                (F.col("doc_id") + 8).alias("doc_id")
            )
        )
        .distinct()
    )
    store = DimStore(spark, tempfile.mkdtemp(prefix="gmall_clvac_"))
    try:
        inc.build_cluster_map(store, b0)
        inc.update_dup_clusters(store, b1)
        inc.update_dup_clusters(store, b2)
        inc.vacuum_cluster_map(store, removed)
        return inc.read_cluster_map(store).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(store.root, ignore_errors=True)


# ----------------------------------------------------------------- SimHash
_SBITS = 16
_HEXPOS = "strpos('0123456789abcdef', substr(h, %d, 1)) - 1"
_VOTES = ",\n           ".join(
    f"SUM(CASE WHEN ({_HEXPOS % (i + 1)}) % 2 = 1 THEN 1 ELSE -1 END) AS v{i}"
    for i in range(_SBITS)
)
_SIG = ", ".join(f"CASE WHEN v{i} > 0 THEN '1' ELSE '0' END" for i in range(_SBITS))
_HAMMING = " + ".join(
    f"(CASE WHEN substr(a.simhash, {i + 1}, 1) <> substr(b.simhash, {i + 1}, 1) "
    "THEN 1 ELSE 0 END)"
    for i in range(_SBITS)
)
# char subset for the editdist oracle's exact bag-distance lower bound
# (levenshtein >= L1/2 over ANY subset — see the oracle comment)
_BAG_CHARS = ", ".join(f"'{c}'" for c in "abcdefghijklmnopqrstuvwxyz0123456789 ")

# the editdist family's single distance threshold (r12 ADVICE): every
# prune literal derives from THIS constant — the length bound uses
# {_ED_MAX} (lev >= |len diff|) and the char-bag bound {2 * _ED_MAX}
# (lev >= L1/2) — so a future threshold change cannot silently leave a
# prune behind and drop valid oracle rows.
_ED_MAX = 64


@register(
    "llm_dedup_simhash",
    oracle=f"""
    WITH tok AS (
        SELECT DISTINCT doc_id, UNNEST({TOKS}) AS token FROM documents
    ),
    hs AS (SELECT doc_id, md5(token) AS h FROM tok),
    votes AS (
        SELECT doc_id,
           {_VOTES}
        FROM hs GROUP BY doc_id
    ),
    sig AS (SELECT doc_id, concat({_SIG}) AS simhash FROM votes),
    parts AS (
        SELECT doc_id, simhash, UNNEST([
            'L' || substr(simhash, 1, {_SBITS // 2}),
            'R' || substr(simhash, {_SBITS // 2 + 1}, {_SBITS // 2})
        ]) AS bucket
        FROM sig
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST({_HAMMING} AS BIGINT) AS hamming
    FROM parts a JOIN parts b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
    WHERE {_HAMMING} <= 3
    """,
    survey_ref="extension: SimHash near-dup (bit-bucket candidate gen)",
    tags=("llm", "dedup"),
)
def llm_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_near_pairs(
        _docs(spark, sf_dir), "doc_id", "text", bits=_SBITS, max_hamming=3
    )


# ------------------------------------------------- embedding near-dup pairs
@register(
    "llm_dedup_embed",
    oracle=f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.label AS bucket,
           {_dot("a.embedding", "b.embedding")}
             / ({_norm("a.embedding")} * {_norm("b.embedding")}) AS sim
    FROM embeddings a
    JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {_dot("a.embedding", "b.embedding")}
             / ({_norm("a.embedding")} * {_norm("b.embedding")}) >= 0.9
    """,
    survey_ref="extension: embedding-cosine near-dup (bucketed pair space)",
    tags=("llm", "dedup", "embedding"),
)
def llm_dedup_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.embedding_near_dups(
        _embs(spark, sf_dir), "vec_id", "embedding", "label", threshold=0.9
    )


# ----------------------------------- incremental EMBEDDING dedup vs index
# (llm/incremental.py vector twin). The oracle recomputes the decisions
# from the raw embeddings table; the hyperplanes are embedded as SQL
# literals generated from the SAME seeded source as the Spark side, and
# bucketing uses the sequential-fold expression on both engines.
_EINC_PLANES, _EINC_TABLES, _EINC_SEED, _EINC_THRESH = 8, 2, 42, 0.9


def _lsh_bucket_exprs(
    vec: str, n_planes: int, n_tables: int, seed: int
) -> str:
    """UNNEST-able list of per-table LSH bucket keys for ``vec`` with the
    seeded hyperplanes embedded as SQL literals — generated from the SAME
    seeded source as the Spark side (similarity._hyperplanes), folded in
    the same sequential index order (similarity._table_buckets
    accumulates per-index for exactly this reason), so the sign decision
    and hence the bucket key are bit-identical across engines."""
    from ..llm.similarity import _hyperplanes

    tables = [
        _hyperplanes(64, n_planes, seed + 1000 * t) for t in range(n_tables)
    ]
    keys = []
    for t, planes in enumerate(tables):
        bits = []
        for plane in planes:
            lits = ", ".join(repr(float(w)) for w in plane)
            fold = (
                f"list_reduce(list_transform(list_zip({vec}, [{lits}]), "
                "z -> CAST(z[1] AS DOUBLE) * z[2]), (x, y) -> x + y)"
            )
            bits.append(f"(CASE WHEN {fold} >= 0 THEN '1' ELSE '0' END)")
        keys.append(f"'{t}:' || " + " || ".join(bits))
    return ", ".join(keys)


def _einc_bucket_exprs(vec: str) -> str:
    """UNNEST-able list of per-table bucket keys for ``vec``."""
    return _lsh_bucket_exprs(vec, _EINC_PLANES, _EINC_TABLES, _EINC_SEED)


_EINC_SPLIT_SQL = """
    ecorpus AS (SELECT vec_id, embedding FROM embeddings
                WHERE vec_id % 10 < 8),
    earrv AS (
        SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 >= 8
        UNION ALL
        SELECT vec_id + 100000, embedding FROM ecorpus WHERE vec_id % 7 = 0
        UNION ALL
        SELECT vec_id + 200000,
               list_transform(embedding, x -> CAST(x * 1.25 AS FLOAT))
        FROM ecorpus WHERE vec_id % 11 = 0
    )"""


def _einc_round_sql(u: str, corpus: str, arrivals: str) -> str:
    """One embedding-incremental round as a CTE chain: decisions
    ``ed{u}`` of ``arrivals`` (vec_id, embedding) against ``corpus``
    (vec_id, embedding) — mirrors incremental_embed_dedup term for
    term (exact = identical vector, near = best cosine >= threshold
    among LSH bucket collisions, else new)."""
    return f"""
    {u}ex AS (SELECT a.vec_id AS a_id, MIN(c.vec_id) AS exact_match
           FROM {arrivals} a JOIN {corpus} c ON a.embedding = c.embedding
           GROUP BY a.vec_id),
    {u}wex AS (SELECT a.vec_id AS a_id, a.embedding, e.exact_match
            FROM {arrivals} a LEFT JOIN {u}ex e ON a.vec_id = e.a_id),
    {u}ne AS (SELECT a_id, embedding FROM {u}wex WHERE exact_match IS NULL),
    {u}abk AS (SELECT DISTINCT a_id, bucket FROM (
        SELECT a_id, UNNEST([{_einc_bucket_exprs("embedding")}]) AS bucket
        FROM {u}ne)),
    {u}cbk AS (SELECT vec_id AS c_id,
                   UNNEST([{_einc_bucket_exprs("embedding")}]) AS bucket
            FROM {corpus}),
    {u}cand AS (SELECT DISTINCT a_id, c_id
                FROM {u}abk JOIN {u}cbk USING (bucket)),
    {u}sc AS (SELECT {u}cand.a_id, {u}cand.c_id,
                  {_dot("a.embedding", "c.embedding")}
                    / ({_norm("a.embedding")} * {_norm("c.embedding")}) AS sim
           FROM {u}cand
           JOIN {u}ne a ON a.a_id = {u}cand.a_id
           JOIN {corpus} c ON c.vec_id = {u}cand.c_id),
    {u}best AS (SELECT a_id, c_id, sim FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY a_id
                                     ORDER BY sim DESC, c_id) AS rn
        FROM {u}sc WHERE sim >= {_EINC_THRESH}) WHERE rn = 1),
    ed{u} AS (SELECT w.a_id AS vec_id,
           CASE WHEN w.exact_match IS NOT NULL THEN 'exact'
                WHEN b.a_id IS NOT NULL THEN 'near'
                ELSE 'new' END AS dup_kind,
           COALESCE(w.exact_match, b.c_id) AS match_id,
           CAST(CASE WHEN w.exact_match IS NOT NULL THEN 1.0
                     WHEN b.a_id IS NOT NULL THEN b.sim
                END AS DOUBLE) AS sim
    FROM {u}wex w LEFT JOIN {u}best b ON w.a_id = b.a_id)"""


@register(
    "llm_embed_dedup_incremental",
    oracle=f"""
    WITH {_EINC_SPLIT_SQL},
    {_einc_round_sql("e1", "ecorpus", "earrv")}
    SELECT vec_id, dup_kind, match_id, sim FROM ede1
    """,
    survey_ref="extension: incremental EMBEDDING dedup against the "
    "persisted vector index (vector twin of llm_dedup_incremental): "
    "corpus vectors + LSH bucket keys persist once; arrivals probe by "
    "bucket collision, verify by cosine, update the index — the index "
    "streams against arrival-side broadcasts, never shuffles",
    tags=("llm", "dedup", "embedding", "incremental"),
)
def llm_embed_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from ..llm import incremental as inc
    from ..sources.dim_store import DimStore

    embs = _embs(spark, sf_dir).select("vec_id", "embedding")
    corpus = embs.filter(F.col("vec_id") % 10 < 8)
    arrivals = (
        embs.filter(F.col("vec_id") % 10 >= 8)
        .unionByName(
            corpus.filter(F.col("vec_id") % 7 == 0).select(
                (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
            )
        )
        .unionByName(
            corpus.filter(F.col("vec_id") % 11 == 0).select(
                (F.col("vec_id") + 200000).alias("vec_id"),
                F.transform(
                    F.col("embedding"), lambda x: (x * F.lit(1.25)).cast("float")
                ).alias("embedding"),
            )
        )
    )
    import shutil

    store = DimStore(spark, tempfile.mkdtemp(prefix="gmall_embdedup_idx_"))
    try:
        inc.build_embed_index(
            store, corpus, "vec_id", "embedding",
            dim=64, n_planes=_EINC_PLANES, n_tables=_EINC_TABLES, seed=_EINC_SEED,
        )
        return inc.ingest_embed_with_dedup(
            store, arrivals, "vec_id", "embedding",
            dim=64, n_planes=_EINC_PLANES, n_tables=_EINC_TABLES,
            seed=_EINC_SEED, threshold=_EINC_THRESH,
        )
    finally:
        shutil.rmtree(store.root, ignore_errors=True)


# -------------------------------------------------- product quantization
_PQ_M, _PQ_SUB, _PQ_K = 4, 16, 8
_PQ_DIST = (
    "list_reduce(list_transform(list_zip(s.sv, c.cv), "
    "z -> (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)) "
    "* (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE))), (x, y) -> x + y)"
)


@register(
    "llm_pq_codes",
    oracle=f"""
    WITH seedv AS (
        SELECT vec_id, embedding,
               ROW_NUMBER() OVER (ORDER BY md5('pq|' || CAST(vec_id AS VARCHAR)),
                                  vec_id) AS cid
        FROM embeddings
    ),
    cent AS (SELECT cid, embedding AS cvec FROM seedv WHERE cid <= {_PQ_K}),
    sub AS (SELECT vec_id AS id, j,
                   embedding[j*{_PQ_SUB}+1 : j*{_PQ_SUB}+{_PQ_SUB}] AS sv
            FROM embeddings, UNNEST([0,1,2,3]) AS t(j)),
    csub AS (SELECT cid, j, cvec[j*{_PQ_SUB}+1 : j*{_PQ_SUB}+{_PQ_SUB}] AS cv
             FROM cent, UNNEST([0,1,2,3]) AS t(j)),
    d AS (SELECT s.id, s.j, c.cid, {_PQ_DIST} AS dist
          FROM sub s JOIN csub c ON s.j = c.j),
    best AS (SELECT id, j, cid, dist FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY id, j
                                     ORDER BY dist, cid) AS rn FROM d)
        WHERE rn = 1)
    SELECT id,
           {", ".join(f"CAST(MAX(CASE WHEN j={j} THEN cid END) AS BIGINT) AS code{j}" for j in range(_PQ_M))},
           ({" + ".join(f"MAX(CASE WHEN j={j} THEN dist END)" for j in range(_PQ_M))}) AS qerr
    FROM best GROUP BY id
    """,
    survey_ref="extension: product-quantization codes — the vector "
    "compression leg of the ANN family (FAISS IVF-PQ layout next to "
    "llm_knn_ivf's coarse quantizer); seeded closed-form codebook, "
    "broadcast encoding, engine-exact distances",
    tags=("llm", "similarity", "embedding"),
    bench=True,
)
def llm_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.pq_codes(
        _embs(spark, sf_dir), "vec_id", "embedding",
        dim=64, m=_PQ_M, ksub=_PQ_K,
    )


@register(
    "llm_knn_pq_adc",
    # same closed-form codebook/assignment CTEs as llm_pq_codes, plus
    # the ADC read path: per-query (subspace, centroid) LUT joined to
    # the code table, partial distances pivoted to fixed j order before
    # the final add (double arithmetic engine-exact, like qerr)
    oracle=f"""
    WITH seedv AS (
        SELECT vec_id, embedding,
               ROW_NUMBER() OVER (ORDER BY md5('pq|' || CAST(vec_id AS VARCHAR)),
                                  vec_id) AS cid
        FROM embeddings
    ),
    cent AS (SELECT cid, embedding AS cvec FROM seedv WHERE cid <= {_PQ_K}),
    sub AS (SELECT vec_id AS id, j,
                   embedding[j*{_PQ_SUB}+1 : j*{_PQ_SUB}+{_PQ_SUB}] AS sv
            FROM embeddings, UNNEST([0,1,2,3]) AS t(j)),
    csub AS (SELECT cid, j, cvec[j*{_PQ_SUB}+1 : j*{_PQ_SUB}+{_PQ_SUB}] AS cv
             FROM cent, UNNEST([0,1,2,3]) AS t(j)),
    d AS (SELECT s.id, s.j, c.cid, {_PQ_DIST} AS dist
          FROM sub s JOIN csub c ON s.j = c.j),
    best AS (SELECT id, j, cid FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY id, j
                                     ORDER BY dist, cid) AS rn FROM d)
        WHERE rn = 1),
    qsub AS (SELECT vec_id AS query_id, j,
                    embedding[j*{_PQ_SUB}+1 : j*{_PQ_SUB}+{_PQ_SUB}] AS sv
             FROM embeddings, UNNEST([0,1,2,3]) AS t(j)
             WHERE vec_id < 10),
    lut AS (SELECT s.query_id, s.j, c.cid, {_PQ_DIST} AS dist
            FROM qsub s JOIN csub c ON s.j = c.j),
    parts AS (SELECT b.id AS neighbor_id, l.query_id, b.j, l.dist
              FROM best b JOIN lut l ON b.j = l.j AND b.cid = l.cid),
    wide AS (SELECT neighbor_id, query_id,
             {", ".join(f"MAX(CASE WHEN j={j} THEN dist END) AS d{j}" for j in range(_PQ_M))}
             FROM parts GROUP BY neighbor_id, query_id),
    scored AS (SELECT query_id, neighbor_id,
                      {" + ".join(f"d{j}" for j in range(_PQ_M))} AS adc_dist
               FROM wide WHERE neighbor_id <> query_id),
    ranked AS (SELECT query_id, neighbor_id, adc_dist,
                      CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY adc_dist, neighbor_id) AS BIGINT) AS rnk
               FROM scored)
    SELECT query_id, neighbor_id, adc_dist, rnk FROM ranked WHERE rnk <= 5
    """,
    survey_ref="extension: PQ asymmetric-distance top-k search (Jegou "
    "et al. 2011 SIII-B) — the 100 TB vector-search read path: corpus "
    "vectors exist only as m codes; per-query LUT broadcast, distances "
    "are m table lookups, exact squared-L2 to each vector's "
    "reconstruction (property-tested identity)",
    tags=("llm", "similarity", "embedding"),
    bench=True,
)
def llm_knn_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") < 10)
    return similarity.pq_adc_topk(
        embs, queries, "vec_id", "embedding",
        dim=64, m=_PQ_M, ksub=_PQ_K, k=5,
    )


def _l2_sql(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(list_zip({a}, {b}), "
        "z -> (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)) "
        "* (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE))), (x, y) -> x + y)"
    )


_IVFPQ_CELLS, _IVFPQ_PROBE = 16, 4


@register(
    "llm_knn_ivf_pq",
    # the llm_knn_pq_adc oracle with a coarse-quantizer prune in front:
    # seeded coarse centers, full-vector argmin cell assignment, per-
    # query n_probe nearest cells, candidates = probed cells only
    oracle=f"""
    WITH cseed AS (
        SELECT vec_id, embedding,
               ROW_NUMBER() OVER (ORDER BY md5('ivf|' || CAST(vec_id AS VARCHAR)),
                                  vec_id) AS cid
        FROM embeddings
    ),
    coarse AS (SELECT cid, embedding AS cvec FROM cseed WHERE cid <= {_IVFPQ_CELLS}),
    cellasg AS (SELECT vec_id AS neighbor_id, cid AS cell FROM (
        SELECT e.vec_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                   ORDER BY {_l2_sql("e.embedding", "c.cvec")}, c.cid) AS rn
        FROM embeddings e, coarse c) WHERE rn = 1),
    q AS (SELECT vec_id AS query_id, embedding AS qvec
          FROM embeddings WHERE vec_id < 10),
    probes AS (SELECT query_id, cid AS cell FROM (
        SELECT q.query_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                   ORDER BY {_l2_sql("q.qvec", "c.cvec")}, c.cid) AS prn
        FROM q, coarse c) WHERE prn <= {_IVFPQ_PROBE}),
    seedv AS (
        SELECT vec_id, embedding,
               ROW_NUMBER() OVER (ORDER BY md5('pq|' || CAST(vec_id AS VARCHAR)),
                                  vec_id) AS cid
        FROM embeddings
    ),
    cent AS (SELECT cid, embedding AS cvec FROM seedv WHERE cid <= {_PQ_K}),
    sub AS (SELECT vec_id AS id, j,
                   embedding[j*{_PQ_SUB}+1 : j*{_PQ_SUB}+{_PQ_SUB}] AS sv
            FROM embeddings, UNNEST([0,1,2,3]) AS t(j)),
    csub AS (SELECT cid, j, cvec[j*{_PQ_SUB}+1 : j*{_PQ_SUB}+{_PQ_SUB}] AS cv
             FROM cent, UNNEST([0,1,2,3]) AS t(j)),
    d AS (SELECT s.id, s.j, c.cid, {_PQ_DIST} AS dist
          FROM sub s JOIN csub c ON s.j = c.j),
    best AS (SELECT id, j, cid FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY id, j
                                     ORDER BY dist, cid) AS rn FROM d)
        WHERE rn = 1),
    qsub AS (SELECT vec_id AS query_id, j,
                    embedding[j*{_PQ_SUB}+1 : j*{_PQ_SUB}+{_PQ_SUB}] AS sv
             FROM embeddings, UNNEST([0,1,2,3]) AS t(j)
             WHERE vec_id < 10),
    lut AS (SELECT s.query_id, s.j, c.cid, {_PQ_DIST} AS dist
            FROM qsub s JOIN csub c ON s.j = c.j),
    parts AS (SELECT b.id AS neighbor_id, l.query_id, b.j, l.dist
              FROM best b
              JOIN cellasg ca ON ca.neighbor_id = b.id
              JOIN probes pr ON pr.cell = ca.cell
              JOIN lut l ON l.query_id = pr.query_id
                        AND b.j = l.j AND b.cid = l.cid),
    wide AS (SELECT neighbor_id, query_id,
             {", ".join(f"MAX(CASE WHEN j={j} THEN dist END) AS d{j}" for j in range(_PQ_M))}
             FROM parts GROUP BY neighbor_id, query_id),
    scored AS (SELECT query_id, neighbor_id,
                      {" + ".join(f"d{j}" for j in range(_PQ_M))} AS adc_dist
               FROM wide WHERE neighbor_id <> query_id),
    ranked AS (SELECT query_id, neighbor_id, adc_dist,
                      CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY adc_dist, neighbor_id) AS BIGINT) AS rnk
               FROM scored)
    SELECT query_id, neighbor_id, adc_dist, rnk FROM ranked WHERE rnk <= 5
    """,
    survey_ref="extension: composed IVF-PQ search (Jegou et al. 2011 "
    "SIV IVFADC) — coarse cells prune to ~n_probe/n_cells of the "
    "corpus BEFORE any distance work, ADC over PQ codes scores the "
    "survivors; both quantizers seeded closed-form so the whole search "
    "is oracle-hash-checked (k-means/residual variants swap the tiny "
    "center frames, not the plan); composition identity vs pq_adc_topk "
    "property-tested",
    tags=("llm", "similarity", "embedding"),
    bench=True,
)
def llm_knn_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") < 10)
    return similarity.ivf_pq_topk(
        embs, queries, "vec_id", "embedding",
        dim=64, m=_PQ_M, ksub=_PQ_K,
        n_cells=_IVFPQ_CELLS, n_probe=_IVFPQ_PROBE, k=5,
    )


# ----------------------------------------------------- brute-force cosine kNN
@register(
    "llm_knn_bruteforce",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv
               FROM embeddings WHERE vec_id < 10),
    c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
    scored AS (
        SELECT query_id, neighbor_id,
               {_dot("qv", "cv")} / ({_norm("qv")} * {_norm("cv")}) AS sim
        FROM c, q WHERE neighbor_id <> query_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, sim,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rnk
        FROM scored
    )
    SELECT query_id, neighbor_id, sim, rnk FROM ranked WHERE rnk <= 5
    """,
    survey_ref="extension: exact ANN baseline (broadcast top-k)",
    tags=("llm", "similarity"),
    bench=True,
)
def llm_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") < 10)
    out = similarity.knn_bruteforce(embs, queries, "vec_id", "embedding", k=5)
    return out.withColumnRenamed("rank", "rnk")


# --------------------------------------------------------- LSH-bucketed kNN
# r9 promotion (VERDICT r8 ask #4): the LSH/IVF ANN entries were rows-only
# ("approximate by construction") since r2. Approximation is a RECALL
# property, not a determinism property — every stage is a deterministic
# function of the seeded hyperplanes / seeded centers, so the oracle can
# replay the exact search: hyperplanes as SQL literals (the
# llm_embed_dedup_incremental trick), the coarse quantizer closed-form
# (the llm_pq_codes/llm_knn_ivf_pq trick). Recall vs brute force remains
# separately contract-tested (llm_knn_*_contract).
_KNN_LSH_PLANES, _KNN_LSH_TABLES, _KNN_LSH_SEED = 4, 16, 42


def _knn_lsh_oracle() -> str:
    keys = _lsh_bucket_exprs(
        "embedding", _KNN_LSH_PLANES, _KNN_LSH_TABLES, _KNN_LSH_SEED
    )
    return f"""
    WITH cbk AS (SELECT vec_id AS neighbor_id,
                        UNNEST([{keys}]) AS bucket
                 FROM embeddings),
    qbk AS (SELECT vec_id AS query_id, UNNEST([{keys}]) AS bucket
            FROM embeddings WHERE vec_id < 10),
    cand AS (SELECT DISTINCT query_id, neighbor_id
             FROM cbk JOIN qbk USING (bucket)
             WHERE neighbor_id <> query_id),
    scored AS (SELECT cand.query_id, cand.neighbor_id,
                      {_dot("qe.embedding", "ce.embedding")}
                        / ({_norm("qe.embedding")} * {_norm("ce.embedding")}) AS sim
               FROM cand
               JOIN embeddings qe ON qe.vec_id = cand.query_id
               JOIN embeddings ce ON ce.vec_id = cand.neighbor_id),
    ranked AS (SELECT query_id, neighbor_id, sim,
                      CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                          ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rnk
               FROM scored)
    SELECT query_id, neighbor_id, sim, rnk FROM ranked WHERE rnk <= 5
    """


@register(
    "llm_knn_lsh",
    oracle=_knn_lsh_oracle(),
    survey_ref="extension: ANN scale path (random-hyperplane LSH buckets); "
    "oracle replays the exact multi-table search with the seeded "
    "hyperplanes embedded as SQL literals — candidates = any-table "
    "collision, then exact cosine top-k",
    tags=("llm", "similarity"),
    bench=True,
)
def llm_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") < 10)
    out = similarity.knn_lsh(embs, queries, "vec_id", "embedding", k=5)
    return out.withColumnRenamed("rank", "rnk")


# ------------------------------------------------------- IVF bucketed kNN
_KNN_IVF_CELLS, _KNN_IVF_PROBE = 16, 4


@register(
    "llm_knn_ivf",
    # the llm_knn_ivf_pq coarse-quantizer CTEs (seeded closed-form
    # centers, full-vector argmin cells, n_probe nearest cells per
    # query) with EXACT cosine scoring of the probed cells' vectors
    oracle=f"""
    WITH cseed AS (
        SELECT vec_id, embedding,
               ROW_NUMBER() OVER (ORDER BY md5('ivf|' || CAST(vec_id AS VARCHAR)),
                                  vec_id) AS cid
        FROM embeddings
    ),
    coarse AS (SELECT cid, embedding AS cvec FROM cseed WHERE cid <= {_KNN_IVF_CELLS}),
    cellasg AS (SELECT vec_id AS neighbor_id, cid AS cell FROM (
        SELECT e.vec_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                   ORDER BY {_l2_sql("e.embedding", "c.cvec")}, c.cid) AS rn
        FROM embeddings e, coarse c) WHERE rn = 1),
    q AS (SELECT vec_id AS query_id, embedding AS qvec
          FROM embeddings WHERE vec_id < 10),
    probes AS (SELECT query_id, cid AS cell FROM (
        SELECT q.query_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                   ORDER BY {_l2_sql("q.qvec", "c.cvec")}, c.cid) AS prn
        FROM q, coarse c) WHERE prn <= {_KNN_IVF_PROBE}),
    scored AS (SELECT pr.query_id, ca.neighbor_id,
                      {_dot("q.qvec", "ce.embedding")}
                        / ({_norm("q.qvec")} * {_norm("ce.embedding")}) AS sim
               FROM probes pr
               JOIN cellasg ca ON ca.cell = pr.cell
               JOIN q ON q.query_id = pr.query_id
               JOIN embeddings ce ON ce.vec_id = ca.neighbor_id
               WHERE ca.neighbor_id <> pr.query_id),
    ranked AS (SELECT query_id, neighbor_id, sim,
                      CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                          ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rnk
               FROM scored)
    SELECT query_id, neighbor_id, sim, rnk FROM ranked WHERE rnk <= 5
    """,
    survey_ref="extension: ANN scale path #2 — IVF inverted lists with the "
    "seeded closed-form coarse quantizer (llm_knn_ivf_pq's coarse stage) "
    "and exact cosine over probed cells; the k-means-trained quantizer "
    "variant stays available as similarity.knn_ivf, recall-contracted by "
    "llm_knn_ivf_contract",
    tags=("llm", "similarity"),
    bench=True,
)
def llm_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") < 10)
    return similarity.ivf_topk_seeded(
        embs, queries, "vec_id", "embedding", k=5,
        n_cells=_KNN_IVF_CELLS, n_probe=_KNN_IVF_PROBE,
    )


# -------------------------------------------- planted near-dup augmentation
# The synthetic embeddings are near-orthogonal (max pairwise cosine ~0.51
# at every SF), so a 0.9-threshold near-dup query over the raw table is
# vacuously empty and proves nothing. Both engines therefore derive the
# SAME augmented corpus from the table: each vector gets a perturbed twin
# (+1e6 id, alternate components scaled x1.05/x0.95 -> cosine ~0.995 with
# its source, still ~orthogonal to everything else). Near-dup queries over
# the augmented corpus must recover exactly the planted pairs — a
# non-trivial, hash-checkable contract for the dedup family.
_AUG_CTE = """
aug AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding,
           label
    FROM embeddings
    UNION ALL
    SELECT vec_id + 1000000,
           list_transform(list_zip(embedding, generate_series(1, len(embedding))),
                          s -> CAST(s[1] AS DOUBLE) *
                               (CASE WHEN s[2] % 2 = 0 THEN 1.05 ELSE 0.95 END)),
           label
    FROM embeddings
)
"""


def _embs_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark rendering of _AUG_CTE (identical arithmetic: one double op
    per component; Spark's transform index is 0-based where DuckDB's
    generate_series is 1-based, hence the flipped parity test)."""
    e = _embs(spark, sf_dir)
    base = e.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
        "label",
    )
    pert = e.select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x.cast("double")
            * F.when(i % 2 == 1, F.lit(1.05)).otherwise(F.lit(0.95)),
        ).alias("embedding"),
        "label",
    )
    return base.unionByName(pert)


@register(
    "llm_dedup_embed_planted",
    oracle=f"""
    WITH {_AUG_CTE}
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.label AS bucket,
           {_dot("a.embedding", "b.embedding")}
             / ({_norm("a.embedding")} * {_norm("b.embedding")}) AS sim
    FROM aug a
    JOIN aug b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {_dot("a.embedding", "b.embedding")}
             / ({_norm("a.embedding")} * {_norm("b.embedding")}) >= 0.9
    """,
    survey_ref="extension: embedding-cosine near-dup over the planted "
    "corpus — non-vacuous threshold semantics (every planted twin pair "
    "recovered, nothing else)",
    tags=("llm", "dedup", "embedding"),
)
def llm_dedup_embed_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.embedding_near_dups(
        _embs_planted(spark, sf_dir), "vec_id", "embedding", "label", threshold=0.9
    )


_EDL_PLANES, _EDL_TABLES, _EDL_SEED = 8, 8, 42


def _dedup_embed_lsh_oracle() -> str:
    keys = _lsh_bucket_exprs("embedding", _EDL_PLANES, _EDL_TABLES, _EDL_SEED)
    return f"""
    WITH {_AUG_CTE},
    bk AS (SELECT vec_id, UNNEST([{keys}]) AS bucket FROM aug),
    cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
             FROM bk a JOIN bk b
               ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
    scored AS (SELECT cand.id_a, cand.id_b,
                      {_dot("ea.embedding", "eb.embedding")}
                        / ({_norm("ea.embedding")} * {_norm("eb.embedding")}) AS sim
               FROM cand
               JOIN aug ea ON ea.vec_id = cand.id_a
               JOIN aug eb ON eb.vec_id = cand.id_b)
    SELECT id_a, id_b, sim FROM scored WHERE sim >= 0.9
    """


@register(
    "llm_dedup_embed_lsh",
    # oracle replays the exact blocked scan: candidates = pairs colliding
    # in ANY of the 8 seeded hyperplane tables (plane literals, same
    # sequential fold), verified with exact cosine >= 0.9. The Spark
    # side's pre_dedup fast path is pair-set-equivalent by construction
    # (identical vectors collide in every table; see
    # similarity.embedding_near_dups_lsh), so one oracle covers both
    # plan shapes.
    oracle=_dedup_embed_lsh_oracle(),
    survey_ref="extension: embedding near-dup with LSH blocking (no "
    "ground-truth bucket column; linear candidate generation) over the "
    "planted corpus — ~500 true pairs exist, so the exact-replay oracle "
    "and the pytest recall bound are non-vacuous",
    tags=("llm", "dedup", "embedding"),
    bench=True,
)
def llm_dedup_embed_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.embedding_near_dups_lsh(
        _embs_planted(spark, sf_dir), "vec_id", "embedding", threshold=0.9,
        n_planes=_EDL_PLANES, n_tables=_EDL_TABLES, seed=_EDL_SEED,
    )


# ------------------------------------------------------------- text analysis
@register(
    "llm_token_stats",
    oracle=f"""
    SELECT doc_id AS id,
           len({TOKS}) AS n_tokens,
           len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS n_bpe_tokens,
           length(text) AS n_chars
    FROM documents
    """,
    survey_ref="extension: token counting (whitespace + BPE-ish regex)",
    tags=("llm", "text"),
)
def llm_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.token_stats(_docs(spark, sf_dir), "doc_id", "text")


@register(
    "llm_quality_score",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {TOKS} AS toks FROM documents)
    SELECT doc_id AS id,
           len(toks) AS n_tokens,
           CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS uniq_ratio,
           CAST(len(list_filter(toks, t -> list_contains(
                ['the','a','of','and','is','to','in'], t))) AS DOUBLE)
             / CAST(len(toks) AS DOUBLE) AS stopword_ratio,
           CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
             / CAST(len(toks) AS DOUBLE) AS mean_token_len
    FROM tk WHERE len(toks) > 0
    """,
    survey_ref="extension: quality scoring (length/stopword/uniqueness)",
    tags=("llm", "text"),
)
def llm_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.quality_score(_docs(spark, sf_dir), "doc_id", "text")


_LANGS = sorted(text.LANG_MARKERS)
_SCORES = ",\n           ".join(
    "len(list_filter(toks, t -> list_contains([%s], t))) AS score_%s"
    % (", ".join(f"'{m}'" for m in text.LANG_MARKERS[lang]), lang)
    for lang in _LANGS
)
_BEST = "greatest(" + ", ".join(f"score_{lang}" for lang in _LANGS) + ")"
_PRED = (
    "CASE WHEN " + _BEST + " = 0 THEN 'und' "
    + " ".join(f"WHEN score_{lang} = {_BEST} THEN '{lang}'" for lang in _LANGS)
    + " END"
)


@register(
    "llm_lang_id",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {TOKS} AS toks FROM documents),
    scored AS (
        SELECT doc_id,
           {_SCORES}
        FROM tk
    )
    SELECT doc_id AS id,
           {", ".join(f"score_{lang}" for lang in _LANGS)},
           {_PRED} AS pred_lang
    FROM scored
    """,
    survey_ref="extension: language-ID (marker-word heuristic)",
    tags=("llm", "text"),
)
def llm_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.lang_id(_docs(spark, sf_dir), "doc_id", "text")


@register(
    "llm_fingerprint",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {TOKS} AS toks FROM documents)
    SELECT doc_id AS id,
           md5(array_to_string(toks, ' ')) AS fp_exact,
           md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fp_bag
    FROM tk
    """,
    survey_ref="extension: document fingerprinting",
    tags=("llm", "text"),
)
def llm_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.fingerprint(_docs(spark, sf_dir), "doc_id", "text")


# ---------------------------------------------------- composed curation
def _minhash_pair_ctes() -> str:
    """sig/bk/cand/common CTEs over the shingle CTEs already in scope
    (same fragments as llm_dedup_minhash)."""
    return f"""
    sig AS (
        SELECT doc_id,
           {_MH_COLS}
        FROM sh GROUP BY doc_id
    ),
    bk AS (
        SELECT DISTINCT doc_id, bucket
        FROM (SELECT doc_id, UNNEST([{_BANDS_SQL}]) AS bucket FROM sig)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
    ),
    common AS (
        SELECT c.id_a, c.id_b, COUNT(*) AS common
        FROM cand c
        JOIN sh a ON a.doc_id = c.id_a
        JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
        GROUP BY c.id_a, c.id_b
    )"""


_STOP_SQL = ", ".join(f"'{s}'" for s in text.STOPWORDS)

_CURATE_ORACLE = f"""
    WITH tq AS (SELECT doc_id, text, {TOKS} AS toks FROM documents),
    q AS (
        SELECT doc_id, text FROM tq
        WHERE len(toks) > 0
          AND len(toks) >= 10
          AND CAST(len(list_filter(toks, t -> list_contains([{_STOP_SQL}], t))) AS DOUBLE)
                / CAST(len(toks) AS DOUBLE) <= 0.5
          AND CAST(len(list_distinct(toks)) AS DOUBLE)
                / CAST(len(toks) AS DOUBLE) >= 0.2
    ),
    ek AS (SELECT MIN(doc_id) AS doc_id FROM q GROUP BY md5(text)),
    ed AS (SELECT q.doc_id, q.text FROM q JOIN ek ON q.doc_id = ek.doc_id),
    {shingle_cte("ed").lstrip()},
    {_minhash_pair_ctes()},
    near AS (
        SELECT DISTINCT id_b AS doc_id
        FROM common
        JOIN sizes sa ON id_a = sa.doc_id
        JOIN sizes sb ON id_b = sb.doc_id
        WHERE CAST(common AS DOUBLE) / CAST(sa.n + sb.n - common AS DOUBLE) >= 0.4
    )
    SELECT ed.doc_id AS id FROM ed
    WHERE ed.doc_id NOT IN (SELECT doc_id FROM near)
"""


@register(
    "llm_corpus_curation",
    oracle=_CURATE_ORACLE,
    survey_ref="extension: composed curation pipeline (quality gate -> "
    "exact dedup -> MinHash near-dup removal) — the end-to-end "
    "training-data flow, one oracle",
    tags=("llm", "pipeline"),
    bench=True,
)
def llm_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.curation import curate

    return curate(
        _docs(spark, sf_dir),
        min_tokens=10,
        max_stopword_ratio=0.5,
        min_uniq_ratio=0.2,
        jaccard_threshold=0.4,
    )


@register(
    "llm_dup_clusters",
    # full hash oracle: the MinHash candidate pairs are oracle-exact
    # (llm_dedup_minhash), and connected components over them is a
    # recursive transitive closure — cluster_id = min reachable id,
    # exactly the large-star/small-star fixpoint's labeling. The UNION
    # (distinct) bounds the recursion; fine at oracle scale, while the
    # Spark side stays the O(log n)-round distributed algorithm.
    oracle=f"""
    WITH RECURSIVE {SHINGLE_CTE},
    sig AS (
        SELECT doc_id,
           {_MH_COLS}
        FROM sh GROUP BY doc_id
    ),
    bk AS (
        SELECT DISTINCT doc_id, bucket
        FROM (SELECT doc_id, UNNEST([{_BANDS_SQL}]) AS bucket FROM sig)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
    ),
    common AS (
        SELECT c.id_a, c.id_b, COUNT(*) AS common
        FROM cand c
        JOIN sh a ON a.doc_id = c.id_a
        JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
        GROUP BY c.id_a, c.id_b
    ),
    pr AS (
        SELECT id_a, id_b
        FROM common
        JOIN sizes sa ON id_a = sa.doc_id
        JOIN sizes sb ON id_b = sb.doc_id
        WHERE CAST(common AS DOUBLE) / CAST(sa.n + sb.n - common AS DOUBLE) >= 0.4
    ),
    e AS (
        SELECT id_a AS src, id_b AS dst FROM pr
        UNION
        SELECT id_b, id_a FROM pr
    ),
    reach(id, lbl) AS (
        SELECT DISTINCT src, src FROM e
        UNION
        SELECT e.src, r.lbl FROM e JOIN reach r ON e.dst = r.id
    )
    SELECT id, MIN(lbl) AS cluster_id FROM reach GROUP BY id
    """,
    survey_ref="extension: near-dup connected components "
    "(large-star/small-star alternation; canonical min-id representative)",
    tags=("llm", "dedup", "iterative"),
    bench=True,
)
def llm_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dedup.minhash_lsh_pairs(
        _docs(spark, sf_dir), "doc_id", "text", threshold=0.4
    )
    return dedup.dup_clusters(pairs)


# ------------------------------------------------- triangle counting
# Cluster-cohesion diagnostic over the near-dup graph. The raw corpus's
# near-dup pairs are too sparse to close triangles, so the entry plants
# clique structure both engines derive identically: every 10th doc gets
# one full copy (+100000) and every 20th a second (+300000) — %20 docs
# form guaranteed 3-cliques, %10-but-not-%20 docs form single edges that
# must NOT count. Edges = the EXACT prefix-filtered Jaccard pairs at 0.5
# over that corpus (r9, VERDICT r8 ask #5: the df<=64-capped family went
# vacuous at sf1 because replica families push planted shingles past the
# cap — prefix filtering is cap-free and exact, so the 10x spot-check
# exercises real triangles); the oracle recomputes the pair set
# exhaustively (prefix filtering = zero recall loss) and counts
# triangles with the canonical a<b<c triple join.
_TRI_CORPUS_SQL = """
corpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
    UNION ALL
    SELECT doc_id + 300000 AS doc_id, text FROM documents WHERE doc_id % 20 = 0
)
"""


@register(
    "llm_dup_graph_triangles",
    oracle=f"""
    WITH {_TRI_CORPUS_SQL},
    {shingle_cte("corpus")},
    pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
        FROM sh a
        JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    pr AS (
        SELECT id_a AS a, id_b AS b
        FROM pairs
        JOIN sizes sa ON id_a = sa.doc_id
        JOIN sizes sb ON id_b = sb.doc_id
        WHERE 100 * common >= 50 * (sa.n + sb.n - common)
    ),
    tr AS (
        SELECT e1.a AS u, e1.b AS v, e2.b AS w
        FROM pr e1
        JOIN pr e2 ON e2.a = e1.b
        JOIN pr e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    corners AS (
        SELECT u AS id FROM tr
        UNION ALL SELECT v FROM tr
        UNION ALL SELECT w FROM tr
    )
    SELECT id, COUNT(*) AS n_triangles FROM corners GROUP BY id
    """,
    survey_ref="extension: triangle counting over the near-dup graph "
    "(degree-ordered wedge join, Suri & Vassilvitskii 2011 — the "
    "cluster-cohesion diagnostic distinguishing true dup cliques from "
    "transitive template drift)",
    tags=("llm", "dedup", "graph"),
)
def llm_dup_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm import graph

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    c1 = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    c2 = docs.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 300000).alias("doc_id"), "text"
    )
    corpus = docs.unionByName(c1).unionByName(c2)
    pairs = dedup.prefix_jaccard_pairs(
        corpus, "doc_id", "text", n=3, threshold_pct=50
    )
    return graph.triangle_counts(pairs.select("id_a", "id_b"))


@register(
    "llm_dup_clusters_incremental",
    # two-batch unroll oracle: the incremental map must equal the
    # transitive closure over the UNION of every edge batch ever folded
    # in — same recursive-closure oracle as llm_dup_clusters, over the
    # three deterministic edge batches the callable replays. Batch shapes
    # deliberately exercise all three maintenance paths: b1 attaches and
    # chains onto b0's clusters, b2 MERGES pairs of existing clusters
    # (the relabel path that rewrites only touched clusters' rows).
    oracle="""
    WITH RECURSIVE p AS (
        SELECT doc_id AS id_a, doc_id + 1 AS id_b
        FROM documents WHERE doc_id % 7 = 0
        UNION ALL
        SELECT doc_id + 1, doc_id + 2 FROM documents WHERE doc_id % 14 = 0
        UNION ALL
        SELECT doc_id + 1, doc_id + 8 FROM documents WHERE doc_id % 14 = 0
    ),
    e AS (SELECT id_a AS src, id_b AS dst FROM p
          UNION SELECT id_b, id_a FROM p),
    reach(id, lbl) AS (
        SELECT DISTINCT src, src FROM e
        UNION
        SELECT e.src, r.lbl FROM e JOIN reach r ON e.dst = r.id
    )
    SELECT id, MIN(lbl) AS cluster_id FROM reach GROUP BY id
    """,
    survey_ref="extension: INCREMENTAL cluster maintenance (r6 VERDICT "
    "ask #4) — new near-dup edges fold into the persisted (id, "
    "cluster_id) map by contracting endpoints to their current labels "
    "and running star-CC on the BATCH-sized quotient graph only; "
    "cluster merges relabel just the touched clusters' member rows via "
    "a broadcast probe of the streaming map (keyed-state analog, "
    "dwm/UniqueVisitApp.java:44-50). Invariant: map == dup_clusters "
    "over the union of all edges ever seen",
    tags=("llm", "dedup", "incremental", "iterative"),
    bench=True,
)
def llm_dup_clusters_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ..llm import incremental as inc
    from ..sources.dim_store import DimStore

    ids = _docs(spark, sf_dir).select("doc_id")
    b0 = ids.filter(F.col("doc_id") % 7 == 0).select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1).alias("id_b")
    )
    ext = ids.filter(F.col("doc_id") % 14 == 0)
    b1 = ext.select(
        (F.col("doc_id") + 1).alias("id_a"), (F.col("doc_id") + 2).alias("id_b")
    )
    b2 = ext.select(
        (F.col("doc_id") + 1).alias("id_a"), (F.col("doc_id") + 8).alias("id_b")
    )
    store = DimStore(spark, tempfile.mkdtemp(prefix="gmall_clmap_"))
    try:
        inc.build_cluster_map(store, b0)
        inc.update_dup_clusters(store, b1)
        inc.update_dup_clusters(store, b2)
        return inc.read_cluster_map(store).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(store.root, ignore_errors=True)


# --------------------------------------------------------------- multimodal
# Media table derived deterministically from `documents` (payload = UTF-8
# bytes of text; the corpus is pure ASCII so DuckDB's char ops see the
# same bytes) — the binary-column plumbing (mapInPandas over Arrow
# batches) is real; only the codec inside is the documented fake.
_MEDIA_CTE = """
media AS (
    SELECT doc_id AS media_id,
           CASE doc_id % 3 WHEN 0 THEN 'image'
                           WHEN 1 THEN 'audio'
                           ELSE 'video' END AS kind,
           text,
           n_chars * 37 AS duration_ms
    FROM documents
)"""


def _media(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.multimodal import media_from_documents

    return media_from_documents(_docs(spark, sf_dir))


@register(
    "mm_media_features",
    oracle=f"""
    WITH {_MEDIA_CTE},
    ch AS (
        SELECT media_id, (i - 1) % 8 AS j, ord(substr(text, i, 1)) AS byte
        FROM media, UNNEST(generate_series(1, strlen(text))) AS t(i)
    ),
    votes AS (
        SELECT media_id, j, SUM(byte) AS s FROM ch GROUP BY media_id, j
    ),
    slots AS (
        SELECT m.media_id, d.j, COALESCE(v.s, 0) AS s
        FROM media m
        CROSS JOIN (SELECT UNNEST(generate_series(0, 7)) AS j) d
        LEFT JOIN votes v ON v.media_id = m.media_id AND v.j = d.j
    ),
    feats AS (
        SELECT media_id,
               list(CAST(s % 997 AS DOUBLE) / 997.0 ORDER BY j) AS feature
        FROM slots GROUP BY media_id
    )
    SELECT m.media_id, m.kind,
           CAST(strlen(m.text) AS BIGINT) AS n_bytes,
           md5(m.text) AS digest,
           {", ".join(f"f.feature[{i + 1}] AS f{i}" for i in range(8))}
    FROM media m JOIN feats f ON m.media_id = f.media_id
    """,
    survey_ref="extension: multimodal decode/feature-extract over opaque "
    "binary payloads (Arrow-batched mapInPandas; codec stubbed, "
    "plumbing + batch shape real)",
    tags=("llm", "multimodal"),
)
def mm_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.multimodal import extract_features

    # the full feature array is computed inside the mapInPandas batch;
    # scalar projections keep the parity hash free of list-vs-ndarray
    # representation drift between the two engines' pandas outputs
    feats = extract_features(_media(spark, sf_dir))
    return feats.select(
        "media_id",
        "kind",
        "n_bytes",
        "digest",
        *[F.col("feature")[i].alias(f"f{i}") for i in range(8)],
    )


@register(
    "mm_frame_sample",
    oracle=f"""
    WITH {_MEDIA_CTE}
    SELECT media_id,
           CAST(UNNEST(range(0, greatest(duration_ms, 1), 1000)) AS BIGINT)
               AS frame_ms,
           md5(text) AS digest
    FROM media WHERE kind = 'video'
    """,
    survey_ref="extension: video frame-sampling fan-out (explode inside "
    "mapInPandas; offsets from duration metadata, decode stubbed)",
    tags=("llm", "multimodal"),
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.multimodal import frame_sample

    return frame_sample(_media(spark, sf_dir), every_ms=1000)


@register(
    "mm_frame_dedup",
    oracle=f"""
    WITH {_MEDIA_CTE},
    frames AS (
        SELECT media_id,
               CAST(UNNEST(range(0, greatest(duration_ms, 1), 1000)) AS BIGINT)
                   AS frame_ms,
               md5(text) AS digest
        FROM media WHERE kind = 'video'
    )
    SELECT digest,
           CAST(COUNT(DISTINCT media_id) AS BIGINT) AS n_media,
           CAST(COUNT(*) AS BIGINT) AS n_frames,
           MIN(media_id) AS keep_media
    FROM frames GROUP BY digest
    """,
    survey_ref="extension: sampled-frame dedup by payload digest "
    "(multimodal x dedup composition)",
    tags=("llm", "multimodal", "dedup"),
)
def mm_frame_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.multimodal import frame_sample

    frames = frame_sample(_media(spark, sf_dir), every_ms=1000)
    return frames.groupBy("digest").agg(
        F.countDistinct("media_id").alias("n_media"),
        F.count(F.lit(1)).alias("n_frames"),
        F.min("media_id").alias("keep_media"),
    )


# ------------------------------------------------------- SimHash 64-bit
# Scale variant: 64-bit signatures, pigeonhole blocking on 4 slices of 16
# bits (exact recall for hamming <= 3). Bit i = bit (i div 32) of md5 hex
# digit (i mod 32) — the same arithmetic both engines can express.
_S64 = 64
_S64_SPLITS = 4


def _bit64_sql(i: int) -> str:
    digit = f"strpos('0123456789abcdef', substr(h, {i % 32 + 1}, 1)) - 1"
    return f"(({digit}) // {2 ** (i // 32)}) % 2"


_VOTES64 = ",\n           ".join(
    f"SUM(CASE WHEN {_bit64_sql(i)} = 1 THEN 1 ELSE -1 END) AS v{i}"
    for i in range(_S64)
)
_SIG64 = ", ".join(f"CASE WHEN v{i} > 0 THEN '1' ELSE '0' END" for i in range(_S64))
_HAMMING64 = " + ".join(
    f"(CASE WHEN substr(a.simhash, {i + 1}, 1) <> substr(b.simhash, {i + 1}, 1) "
    "THEN 1 ELSE 0 END)"
    for i in range(_S64)
)
_W64 = _S64 // _S64_SPLITS
_SLICES64 = ", ".join(
    f"'s{k}_' || substr(simhash, {k * _W64 + 1}, {_W64})" for k in range(_S64_SPLITS)
)


@register(
    "llm_dedup_simhash64",
    oracle=f"""
    WITH tok AS (
        SELECT DISTINCT doc_id, UNNEST({TOKS}) AS token FROM documents
    ),
    hs AS (SELECT doc_id, md5(token) AS h FROM tok),
    votes AS (
        SELECT doc_id,
           {_VOTES64}
        FROM hs GROUP BY doc_id
    ),
    sig AS (SELECT doc_id, concat({_SIG64}) AS simhash FROM votes),
    parts AS (
        SELECT doc_id, simhash, UNNEST([{_SLICES64}]) AS bucket FROM sig
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST({_HAMMING64} AS BIGINT) AS hamming
    FROM parts a JOIN parts b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
    WHERE {_HAMMING64} <= 3
    """,
    survey_ref="extension: SimHash scale variant — 64-bit signatures, "
    "pigeonhole blocking (4 x 16-bit slices = exact recall for "
    "hamming <= 3)",
    tags=("llm", "dedup"),
)
def llm_dedup_simhash64(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_near_pairs(
        _docs(spark, sf_dir),
        "doc_id",
        "text",
        bits=_S64,
        max_hamming=3,
        n_splits=_S64_SPLITS,
    )


# ---------------------------------------------- perplexity-proxy familiarity
@register(
    "llm_ngram_familiarity",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {TOKS} AS toks FROM documents),
    pos AS (
        SELECT doc_id, toks[i] AS prev, toks[i] || ' ' || toks[i+1] AS bigram
        FROM tk, UNNEST(generate_series(1, len(toks) - 1)) AS t(i)
        WHERE len(toks) >= 2
    ),
    big_ct AS (SELECT bigram, COUNT(*) AS c2 FROM pos GROUP BY bigram),
    uni AS (SELECT UNNEST(toks) AS token FROM tk),
    uni_ct AS (SELECT token, COUNT(*) AS c1 FROM uni GROUP BY token),
    vocab AS (SELECT COUNT(DISTINCT token) AS v FROM uni),
    scored AS (
        SELECT p.doc_id AS id, COUNT(*) AS n_bigrams,
               CAST(SUM(b.c2) AS BIGINT) AS sum_bigram_ct,
               CAST(SUM(u.c1) AS BIGINT) AS sum_prev_ct
        FROM pos p
        JOIN big_ct b ON p.bigram = b.bigram
        JOIN uni_ct u ON p.prev = u.token
        GROUP BY p.doc_id
    )
    SELECT id, n_bigrams, sum_bigram_ct, sum_prev_ct,
           CAST(sum_bigram_ct + n_bigrams AS DOUBLE)
             / CAST(sum_prev_ct + n_bigrams * v AS DOUBLE) AS familiarity
    FROM scored CROSS JOIN vocab
    """,
    survey_ref="extension: perplexity-proxy quality feature (corpus-"
    "relative bigram familiarity; exact-integer accumulation, one "
    "final double division)",
    tags=("llm", "text"),
)
def llm_ngram_familiarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.ngram_familiarity(_docs(spark, sf_dir), "doc_id", "text")


# ------------------------------------------------ bigram LM perplexity
def _qlog2_sql(x: str) -> str:
    """The SQL rendering of llm/lm.py's 1/256-bit piecewise-linear log2
    (identical integer arithmetic in both engines)."""
    e = f"(length(bin({x})) - 1)"
    return f"(256 * {e} + ((({x}) * 256) >> {e}) - 256)"


_LM_C1 = "COALESCE(c1.c1, 0) + v"
_LM_C12 = "COALESCE(c12.c12, 0) + 1"


@register(
    "llm_lm_perplexity",
    # reference half = doc_id%5==0 (the CCNet wiki-LM stand-in), scored
    # half = the rest — OOV contexts and unseen bigrams both exercised.
    oracle=f"""
    WITH dtk AS (SELECT doc_id, COALESCE({TOKS}, CAST([] AS VARCHAR[])) AS toks
                 FROM documents),
    rbg AS (SELECT toks[i] AS w1, toks[i+1] AS w2
            FROM dtk, UNNEST(generate_series(1, len(toks) - 1)) AS g(i)
            WHERE doc_id % 5 = 0 AND len(toks) >= 2),
    c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM rbg GROUP BY w1, w2),
    c1 AS (SELECT w1, COUNT(*) AS c1 FROM rbg GROUP BY w1),
    vv AS (SELECT COUNT(DISTINCT t) AS v
           FROM (SELECT UNNEST(toks) AS t FROM dtk WHERE doc_id % 5 = 0)),
    sbg AS (SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2
            FROM dtk, UNNEST(generate_series(1, len(toks) - 1)) AS g(i)
            WHERE doc_id % 5 <> 0 AND len(toks) >= 2),
    cost AS (
        SELECT doc_id,
               {_qlog2_sql(_LM_C1)} - {_qlog2_sql(_LM_C12)} AS cost
        FROM sbg
        LEFT JOIN c12 ON sbg.w1 = c12.w1 AND sbg.w2 = c12.w2
        LEFT JOIN c1 ON sbg.w1 = c1.w1
        CROSS JOIN vv)
    SELECT doc_id AS id, COUNT(*) AS n_bigrams,
           CAST(SUM(cost) AS BIGINT) AS cost_q256,
           CAST(SUM(cost) AS DOUBLE) / CAST(256 * COUNT(*) AS DOUBLE)
               AS bits_per_token
    FROM cost GROUP BY doc_id
    """,
    survey_ref="extension: bigram-LM perplexity quality scoring (the "
    "CCNet / RedPajama KenLM stage, Wenzek et al. 2020) — add-one-"
    "smoothed bits-per-token under a reference-trained LM, with every "
    "log2 piecewise-linear quantized to 1/256 bit in pure integer "
    "arithmetic so both engines agree exactly (llm/lm.py); LM = two "
    "map-side-combining count aggregates, scoring = hash joins on "
    "natural keys + per-doc sum",
    tags=("llm", "text", "quality"),
    bench=True,
)
def llm_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm import lm

    d = _docs(spark, sf_dir)
    return lm.lm_perplexity(
        d.filter(F.col("doc_id") % 5 != 0),
        d.filter(F.col("doc_id") % 5 == 0),
        "doc_id",
        "text",
    )


@register(
    "llm_lm_perplexity_sampled",
    # the 100 TB tokenizer/LM posture (same as llm_bpe_train_sampled):
    # train the count tables on a deterministic hash HALF of the
    # reference, score the FULL candidate corpus — training cost follows
    # the sample, scoring stays one hash join per table. The sample
    # membership is the md5-u32 Bernoulli, so both engines pick the
    # identical reference subset.
    oracle=f"""
    WITH dtk AS (SELECT doc_id, COALESCE({TOKS}, CAST([] AS VARCHAR[])) AS toks
                 FROM documents),
    rbg AS (SELECT toks[i] AS w1, toks[i+1] AS w2
            FROM dtk, UNNEST(generate_series(1, len(toks) - 1)) AS g(i)
            WHERE doc_id % 5 = 0 AND {_u32_sql("doc_id")} < {1 << 31}
              AND len(toks) >= 2),
    c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM rbg GROUP BY w1, w2),
    c1 AS (SELECT w1, COUNT(*) AS c1 FROM rbg GROUP BY w1),
    vv AS (SELECT COUNT(DISTINCT t) AS v
           FROM (SELECT UNNEST(toks) AS t FROM dtk
                 WHERE doc_id % 5 = 0 AND {_u32_sql("doc_id")} < {1 << 31})),
    sbg AS (SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2
            FROM dtk, UNNEST(generate_series(1, len(toks) - 1)) AS g(i)
            WHERE doc_id % 5 <> 0 AND len(toks) >= 2),
    cost AS (
        SELECT doc_id,
               {_qlog2_sql(_LM_C1)} - {_qlog2_sql(_LM_C12)} AS cost
        FROM sbg
        LEFT JOIN c12 ON sbg.w1 = c12.w1 AND sbg.w2 = c12.w2
        LEFT JOIN c1 ON sbg.w1 = c1.w1
        CROSS JOIN vv)
    SELECT doc_id AS id, COUNT(*) AS n_bigrams,
           CAST(SUM(cost) AS BIGINT) AS cost_q256,
           CAST(SUM(cost) AS DOUBLE) / CAST(256 * COUNT(*) AS DOUBLE)
               AS bits_per_token
    FROM cost GROUP BY doc_id
    """,
    survey_ref="extension: SAMPLED-train bigram-LM perplexity — the "
    "r8 VERDICT's scale note on llm_lm_perplexity resolved the way the "
    "repo already trains BPE at scale (llm_bpe_train_sampled): count "
    "tables from a hash-deterministic reference sample, full-corpus "
    "scoring unchanged; smoothing stays proper because V comes from the "
    "same sample",
    tags=("llm", "text", "quality"),
    # NOT in the bench set: the full-train form llm_lm_perplexity is
    # already benched and the two share the dominant scoring join —
    # benching both double-counts it. The sampled form's value is the
    # 10x posture, recorded in BENCH_sf1_spotcheck.json (72.6 s vs
    # 84.1 s at sf1, 9.2x vs 10.4x — training cost follows the sample;
    # scoring dominates this fixture).
    bench=False,
)
def llm_lm_perplexity_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm import lm
    from ..llm.sampling import hash_sample

    d = _docs(spark, sf_dir)
    ref = hash_sample(d.filter(F.col("doc_id") % 5 == 0), "doc_id", 0.5)
    return lm.lm_perplexity(
        d.filter(F.col("doc_id") % 5 != 0), ref, "doc_id", "text"
    )


# ------------------------------------------------- rolling-hash fingerprint
@register(
    "llm_fingerprint_rolling",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {TOKS} AS toks FROM documents)
    SELECT doc_id AS id,
           list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                   list_transform(toks, t ->
                       list_reduce(list_transform(generate_series(1, 8), i ->
                           CAST(strpos('0123456789abcdef',
                                       substr(md5(t), i, 1)) - 1 AS BIGINT)),
                           (a, d) -> a * 16 + d))),
               (acc, v) -> (acc * 256 + v) % 1000000007
           ) AS fp_roll,
           len(toks) AS n_tokens
    FROM tk
    """,
    survey_ref="extension: Rabin-Karp rolling-hash fingerprint (position-"
    "sensitive; the fold a winnowing fingerprinter applies per window)",
    tags=("llm", "text"),
)
def llm_fingerprint_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.rolling_fingerprint(_docs(spark, sf_dir), "doc_id", "text")


@register(
    "mm_image_resize",
    oracle="""
    WITH img AS (
        SELECT doc_id AS media_id,
               CAST(64 + n_chars % 256 AS INT) AS width,
               CAST(64 + (n_chars * 7) % 256 AS INT) AS height,
               md5(text) AS digest
        FROM documents WHERE doc_id % 3 = 0
    )
    SELECT media_id, width, height,
           CAST((width * 256) // greatest(width, height) AS INT) AS new_w,
           CAST((height * 256) // greatest(width, height) AS INT) AS new_h,
           digest
    FROM img
    """,
    survey_ref="extension: image resize stub — fit-into-box metadata math "
    "(integer exact) around the stubbed pixel transform",
    tags=("llm", "multimodal"),
)
def mm_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.multimodal import image_resize_meta

    return image_resize_meta(_media(spark, sf_dir), box=256)


@register(
    "mm_audio_frames",
    oracle=f"""
    WITH {_MEDIA_CTE}
    SELECT media_id,
           CAST(UNNEST(range(0, greatest(duration_ms - 2000 + 1, 0), 1000))
                AS BIGINT) AS frame_start_ms,
           CAST(UNNEST(range(0, greatest(duration_ms - 2000 + 1, 0), 1000))
                + 2000 AS BIGINT) AS frame_end_ms,
           md5(text) AS digest
    FROM media WHERE kind = 'audio'
    """,
    survey_ref="extension: audio analysis-frame windows (window/hop "
    "fan-out inside mapInPandas; decode stubbed)",
    tags=("llm", "multimodal"),
)
def mm_audio_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.multimodal import audio_frame_windows

    return audio_frame_windows(_media(spark, sf_dir), window_ms=2000, hop_ms=1000)


# --------------------------------------------------- winnowing fingerprints
_HEX2INT = (
    "list_reduce(list_transform(generate_series(1, 8), i -> "
    "CAST(strpos('0123456789abcdef', substr(md5(t), i, 1)) - 1 AS BIGINT)), "
    "(a, d) -> a * 16 + d)"
)


@register(
    "llm_fingerprint_winnow",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {TOKS} AS toks FROM documents),
    vs AS (
        SELECT doc_id, list_transform(toks, t -> {_HEX2INT}) AS v FROM tk
    ),
    gs AS (
        SELECT doc_id,
               list_transform(generate_series(1, greatest(len(v) - 2, 0)), i ->
                   list_reduce(list_prepend(CAST(0 AS BIGINT), v[i:i+2]),
                               (a, x) -> (a * 256 + x) % 1000000007)) AS g
        FROM vs
    )
    SELECT doc_id AS id,
           UNNEST(list_distinct(list_transform(generate_series(1, len(g) - 3),
                  p -> list_min(g[p:p+3])))) AS fp
    FROM gs WHERE len(g) >= 4
    """,
    survey_ref="extension: winnowing fingerprints (MOSS; per-window min of "
    "k-gram rolling hashes — guarantees shared substrings >= k+w-1 "
    "tokens share a fingerprint)",
    tags=("llm", "text", "dedup"),
)
def llm_fingerprint_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.winnow_fingerprints(_docs(spark, sf_dir), "doc_id", "text", k=3, w=4)


# ------------------------------------------------- deterministic sampling
# (llm/sampling.py) — hash-keyed Bernoulli sample, per-group fixed-n, and
# train/val/test split; all pure functions of the id, so the driver
# hash-checks sampling like any exact operator. u32(id) = _u32_sql above.
_SAMPLE_THRESH = int(0.1 * (1 << 32))


@register(
    "llm_sample_hash",
    oracle=f"""
    SELECT doc_id, lang FROM documents
    WHERE {_u32_sql("doc_id")} < {_SAMPLE_THRESH}
    """,
    survey_ref="extension: deterministic Bernoulli(0.1) corpus sample — "
    "retry/re-shard stable, join-stable across tables (rand() is neither)",
    tags=("llm", "sampling"),
)
def llm_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm import sampling

    return sampling.hash_sample(_docs(spark, sf_dir), "doc_id", 0.1).select(
        "doc_id", "lang"
    )


@register(
    "llm_sample_stratified",
    oracle=f"""
    SELECT doc_id, lang FROM (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (PARTITION BY lang
                                  ORDER BY {_u32_sql("doc_id")}, doc_id) AS rk
        FROM documents
    ) WHERE rk <= 20
    """,
    survey_ref="extension: stratified fixed-n per language (deterministic "
    "reservoir replacement; one shuffle on the stratum key)",
    tags=("llm", "sampling"),
)
def llm_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm import sampling

    return sampling.stratified_fixed_n(
        _docs(spark, sf_dir), "lang", "doc_id", 20
    ).select("doc_id", "lang")


_VAL_HI = int(0.1 * (1 << 32))
_TEST_HI = int(0.2 * (1 << 32))


@register(
    "llm_train_val_split",
    oracle=f"""
    SELECT doc_id,
           CASE WHEN {_u32_sql("doc_id")} < {_VAL_HI} THEN 'val'
                WHEN {_u32_sql("doc_id")} < {_TEST_HI} THEN 'test'
                ELSE 'train' END AS split
    FROM documents
    """,
    survey_ref="extension: id-keyed train/val/test split — the same doc "
    "lands in the same split on every table carrying its id",
    tags=("llm", "sampling"),
)
def llm_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm import sampling

    return sampling.train_val_test_split(
        _docs(spark, sf_dir), "doc_id", 0.1, 0.1
    ).select("doc_id", "split")


# ----------------------------------------- repetition / PII / decontamination
@register(
    "llm_repetition",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {TOKS} AS toks FROM documents),
    g AS (
        SELECT doc_id,
               CASE WHEN len(toks) >= 3
                    THEN list_transform(generate_series(1, len(toks) - 2),
                         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                    ELSE CAST([] AS VARCHAR[]) END AS grams
        FROM tk
    ),
    -- per-gram counts via UNNEST + GROUP BY, not the nested
    -- list_filter-per-distinct-gram lambda (r12: that form is
    -- O(distinct x total) per doc with an interpreted-lambda constant
    -- — 318 s at sf0.1 vs seconds here; values identical: n_grams =
    -- SUM(c), dup fraction from COUNT(*) distinct grams, modal share
    -- from MAX(c))
    cnt AS (
        SELECT doc_id, gram, COUNT(*) AS c
        FROM (SELECT doc_id, UNNEST(grams) AS gram FROM g)
        GROUP BY doc_id, gram
    ),
    agg AS (
        SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_grams,
               COUNT(*) AS n_distinct, MAX(c) AS max_c
        FROM cnt GROUP BY doc_id
    )
    SELECT doc_id AS id, n_grams,
           CAST(n_grams - n_distinct AS DOUBLE)
             / CAST(n_grams AS DOUBLE) AS dup_gram_frac,
           CAST(max_c AS DOUBLE) / CAST(n_grams AS DOUBLE) AS top_gram_share
    FROM agg WHERE n_grams > 0
    """,
    survey_ref="extension: Gopher-style within-doc repetition signals "
    "(duplicate n-gram fraction, modal n-gram share) — boilerplate filter",
    tags=("llm", "text", "quality"),
    # In the bench set since r15 (r14 VERDICT ask #4): the r14
    # explode -> (doc, gram) count -> per-doc agg restructure (325 ->
    # 13.8 s at sf0.1) was the round's biggest engine fix — a
    # regression must surface as a bench ratio, not a sweep wall.
    bench=True,
)
def llm_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.repetition_stats(_docs(spark, sf_dir), "doc_id", "text").filter(
        F.col("n_grams") > 0
    )


@register(
    "llm_pii_flags",
    oracle="""
    SELECT doc_id AS id,
           len(regexp_extract_all(lower(text),
               '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}')) AS n_emails,
           len(regexp_extract_all(lower(text), 'https?://[^\\s]+')) AS n_urls,
           len(regexp_extract_all(lower(text), '[0-9]{6,}')) AS n_digit_runs
    FROM documents
    """,
    survey_ref="extension: PII/cleaning-signal audit (email/URL/long-digit "
    "counts per doc; redaction = regexp_replace with the same patterns)",
    tags=("llm", "text", "pii"),
)
def llm_pii_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.pii_flags(_docs(spark, sf_dir), "doc_id", "text")


# ------------------------------------------------------------ PII redaction
# The synthetic corpus carries no PII-shaped spans (checked), so the entry
# plants them deterministically: emails on doc_id%4==0, URLs on %4==1,
# long digit runs on %4==2, %4==3 untouched — every redaction kind and the
# no-op path all exercised, including the count-after-previous-pass
# sequencing (a digit run inside an already-redacted span must not count).
_PII_CORPUS_SQL = """
corpus AS (
    SELECT doc_id,
           CASE doc_id % 4
             WHEN 0 THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                         || '@mail.example.com now'
             WHEN 1 THEN text || ' see https://example.org/p/'
                         || CAST(doc_id AS VARCHAR) || ' today'
             WHEN 2 THEN text || ' ref 88' || lpad(CAST(doc_id AS VARCHAR), 6, '0')
                         || ' end'
             ELSE text
           END AS text
    FROM documents
)
"""


def _plant_pii(d: DataFrame) -> DataFrame:
    """Narrow planting map shared by the batch entry and its streaming
    twin (works on any frame with doc_id/text, batch or streaming)."""
    sid = F.col("doc_id").cast("string")
    planted = (
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.col("text"), F.lit(" contact user"), sid,
                     F.lit("@mail.example.com now")),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(F.col("text"), F.lit(" see https://example.org/p/"), sid,
                     F.lit(" today")),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(F.col("text"), F.lit(" ref 88"), F.lpad(sid, 6, "0"),
                     F.lit(" end")),
        )
        .otherwise(F.col("text"))
    )
    return d.select("doc_id", planted.alias("text"))


def _pii_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _plant_pii(_docs(spark, sf_dir).select("doc_id", "text"))


@register(
    "llm_pii_redact",
    oracle=f"""
    WITH {_PII_CORPUS_SQL},
    s0 AS (SELECT doc_id, lower(text) AS t0 FROM corpus),
    s1 AS (SELECT doc_id, t0,
                  regexp_replace(t0, 'https?://[^\\s]+', '<url>', 'g') AS t1
           FROM s0),
    s2 AS (SELECT doc_id, t0, t1,
                  regexp_replace(t1, '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{{2,}}',
                                 '<email>', 'g') AS t2
           FROM s1)
    SELECT doc_id AS id,
           len(regexp_extract_all(t0, 'https?://[^\\s]+')) AS n_urls,
           len(regexp_extract_all(t1,
               '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{{2,}}')) AS n_emails,
           len(regexp_extract_all(t2, '[0-9]{{6,}}')) AS n_nums,
           regexp_replace(t2, '[0-9]{{6,}}', '<num>', 'g') AS clean_text
    FROM s2
    """,
    survey_ref="extension: PII redaction (typed-placeholder rewrite with "
    "sequential URL -> email -> digit-run passes; the de-identification "
    "stage of every released pretraining corpus). Counts are "
    "replacements actually performed, measured after the preceding pass",
    tags=("llm", "text", "pii"),
)
def llm_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.pii_redact(_pii_corpus(spark, sf_dir), "doc_id", "text")


@register(
    "llm_decontaminate",
    oracle=f"""
    WITH {SHINGLE_CTE}
    SELECT DISTINCT s.doc_id AS id
    FROM sh s
    JOIN (SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0) b
      ON s.shingle = b.shingle
    WHERE s.doc_id % 50 <> 0
    """,
    survey_ref="extension: benchmark decontamination (GPT-3 n-gram overlap "
    "filter): training docs sharing any 3-gram with the held-out set "
    "(doc_id %% 50 = 0 plays the benchmark); inverted-index semi join, "
    "benchmark shingles broadcast",
    tags=("llm", "dedup", "decontam"),
    bench=True,
)
def llm_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm import decontam

    d = _docs(spark, sf_dir)
    bench = d.filter(F.col("doc_id") % 50 == 0)
    train = d.filter(F.col("doc_id") % 50 != 0)
    return decontam.contaminated_ids(train, bench, "doc_id", "text", n=3)


@register(
    "llm_decontaminate_bloom",
    oracle=REGISTRY["llm_decontaminate"].oracle,
    survey_ref="extension: decontamination with a BLOOM-BITMAP "
    "prefilter — the benchmark shingle set summarized into an 8 KiB "
    "bitmap embedded as an array literal, so the corpus side shrinks "
    "via a join-free narrow filter before the exact verify semi-join; "
    "no false negatives by construction, so the oracle is the EXACT "
    "decontamination SQL (the semantic contract: the prefilter never "
    "changes the answer). The explicit form of Spark's runtime "
    "bloom-join pruning, sized for benchmark suites too large to "
    "broadcast as raw shingle strings",
    tags=("llm", "dedup", "decontam", "sketch"),
)
def llm_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm import decontam

    d = _docs(spark, sf_dir)
    bench = d.filter(F.col("doc_id") % 50 == 0)
    train = d.filter(F.col("doc_id") % 50 != 0)
    return decontam.contaminated_ids_bloom(train, bench, "doc_id", "text", n=3)


# ---------------------------------- DSIR importance weighting / selection
# target domain = doc_id % 20 == 0 exemplars, raw pool = the rest;
# hashed unigram+bigram features, integer log2-magnitude weights (see
# llm/dsir.py docstring for the engine-portable quantization).
_DSIR_B = 1024
_DSIR_K = 200
_DSIR_GRAMS_CTE = f"""
    dtk AS (SELECT doc_id, COALESCE({TOKS}, CAST([] AS VARCHAR[])) AS toks
            FROM documents),
    dgr AS (SELECT doc_id,
                   UNNEST(list_concat(toks,
                     CASE WHEN len(toks) >= 2
                          THEN list_transform(generate_series(1, len(toks)-1),
                                              i -> toks[i] || ' ' || toks[i+1])
                          ELSE CAST([] AS VARCHAR[]) END)) AS gram
            FROM dtk),
    docc AS (SELECT doc_id, ({_u32_sql("'dsir|' || gram")}) % {_DSIR_B} AS bucket
             FROM dgr),
    dtc AS (SELECT bucket, COUNT(*) AS cnt FROM docc
            WHERE doc_id % 20 = 0 GROUP BY bucket),
    drc AS (SELECT bucket, COUNT(*) AS cnt FROM docc
            WHERE doc_id % 20 <> 0 GROUP BY bucket),
    dw AS (SELECT CAST(range AS BIGINT) AS bucket,
                  CAST(COALESCE(t.cnt, 0) AS BIGINT) AS t_cnt,
                  CAST(COALESCE(r.cnt, 0) AS BIGINT) AS r_cnt,
                  CAST((length(bin(COALESCE(t.cnt, 0) + 1)) - 1)
                     - (length(bin(COALESCE(r.cnt, 0) + 1)) - 1) AS BIGINT) AS w
           FROM range({_DSIR_B})
           LEFT JOIN dtc t ON range = t.bucket
           LEFT JOIN drc r ON range = r.bucket)"""


@register(
    "llm_dsir_weights",
    oracle=f"""
    WITH {_DSIR_GRAMS_CTE}
    SELECT bucket, t_cnt, r_cnt, w FROM dw
    """,
    survey_ref="extension: DSIR hashed n-gram importance weights (Xie "
    "et al. 2023) — target-vs-raw feature distributions as BOUNDED "
    f"B={_DSIR_B}-row aggregates with map-side combine (nothing "
    "vocabulary-shaped shuffles); integer log2-magnitude quantization "
    "for engine-exact parity (llm/dsir.py)",
    tags=("llm", "text", "sampling", "sketch"),
)
def llm_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm import dsir

    d = _docs(spark, sf_dir)
    return dsir.dsir_weights(
        d.filter(F.col("doc_id") % 20 != 0),
        d.filter(F.col("doc_id") % 20 == 0),
        "text",
        n_buckets=_DSIR_B,
    )


@register(
    "llm_dsir_select",
    oracle=f"""
    WITH {_DSIR_GRAMS_CTE},
    dsc AS (SELECT o.doc_id, COUNT(*) AS n_feats, SUM(w.w) AS score
            FROM (SELECT doc_id, bucket FROM docc WHERE doc_id % 20 <> 0) o
            JOIN dw w ON o.bucket = w.bucket
            GROUP BY o.doc_id),
    ds AS (SELECT a.doc_id AS id,
                  CAST(COALESCE(s.n_feats, 0) AS BIGINT) AS n_feats,
                  CAST(COALESCE(s.score, 0) AS BIGINT) AS score
           FROM (SELECT DISTINCT doc_id FROM documents WHERE doc_id % 20 <> 0) a
           LEFT JOIN dsc s ON a.doc_id = s.doc_id),
    dk AS (SELECT id FROM ds
           WHERE n_feats > 0
           ORDER BY score DESC,
                    {_u32_sql("'tie|' || CAST(id AS VARCHAR)")} ASC,
                    id ASC
           LIMIT {_DSIR_K})
    SELECT ds.id, ds.n_feats, ds.score, (dk.id IS NOT NULL) AS keep
    FROM ds LEFT JOIN dk ON ds.id = dk.id
    """,
    survey_ref="extension: full DSIR selection — learn weights "
    "target-vs-raw, score every raw doc (B-row weight table "
    "BROADCASTS; one doc-keyed shuffle), keep deterministic top-"
    f"{_DSIR_K} (TakeOrderedAndProject, never a single-partition "
    "sort); the paper's Gumbel resampling replaced by an md5 "
    "tiebreak so the driver hash gate stays meaningful",
    tags=("llm", "text", "sampling"),
)
def llm_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm import dsir

    d = _docs(spark, sf_dir)
    return dsir.dsir_select(
        d.filter(F.col("doc_id") % 20 != 0),
        d.filter(F.col("doc_id") % 20 == 0),
        k=_DSIR_K,
        n_buckets=_DSIR_B,
    )


def _dsir_gumbel_oracle() -> str:
    """Oracle for the Gumbel-resampled selection: the SAME quantized
    inverse-CDF integer table the Spark side embeds (generated by ONE
    Python function, so the two literals cannot drift), indexed by the
    'gum|'-seeded md5 level hash — pure integer arithmetic on both
    engines."""
    import math

    from ..llm import dsir

    table = dsir.gumbel_table()
    ln2_scale = round(math.log(2.0) * dsir.GUMBEL_SCALE / _DSIR_GUMBEL_T)
    arr = "[" + ", ".join(str(v) for v in table) + "]"
    lvl_hash = _u32_sql("'gum|' || CAST(id AS VARCHAR)")
    lvl = f"({lvl_hash}) % {dsir.GUMBEL_LEVELS}"
    return f"""
    WITH {_DSIR_GRAMS_CTE},
    dsc AS (SELECT o.doc_id, COUNT(*) AS n_feats, SUM(w.w) AS score
            FROM (SELECT doc_id, bucket FROM docc WHERE doc_id % 20 <> 0) o
            JOIN dw w ON o.bucket = w.bucket
            GROUP BY o.doc_id),
    ds AS (SELECT a.doc_id AS id,
                  CAST(COALESCE(s.n_feats, 0) AS BIGINT) AS n_feats,
                  CAST(COALESCE(s.score, 0) AS BIGINT) AS score
           FROM (SELECT DISTINCT doc_id FROM documents WHERE doc_id % 20 <> 0) a
           LEFT JOIN dsc s ON a.doc_id = s.doc_id),
    gt AS (SELECT {arr} AS arr),
    dp AS (SELECT id, n_feats, score,
                  CAST(score * {ln2_scale}
                       + arr[({lvl}) + 1] AS BIGINT) AS perturbed
           FROM ds, gt),
    dk AS (SELECT id FROM dp
           WHERE n_feats > 0
           ORDER BY perturbed DESC,
                    {_u32_sql("'tie|' || CAST(id AS VARCHAR)")} ASC,
                    id ASC
           LIMIT {_DSIR_K})
    SELECT dp.id, dp.n_feats, dp.score, dp.perturbed,
           (dk.id IS NOT NULL) AS keep
    FROM dp LEFT JOIN dk ON dp.id = dk.id
    """


_DSIR_GUMBEL_T = 1.0


@register(
    "llm_dsir_select_gumbel",
    oracle=_dsir_gumbel_oracle(),
    survey_ref="extension (VERDICT r7 ask #6): DSIR selection with the "
    "paper's Gumbel-top-k RESAMPLING — keep top-k of score*ln2/T + G, "
    "i.e. sample k docs w/o replacement with prob proportional to "
    "w^(1/T); the Gumbel noise is a quantized 1024-level inverse-CDF "
    "INTEGER table precomputed in Python and embedded as a literal on "
    "both engines (the Bloom-bitmap shared-literal discipline), so the "
    "sampled selection is engine-exact and the driver hash gate stays "
    "meaningful; md5 'gum|' seed decorrelates noise from tiebreaks",
    tags=("llm", "text", "sampling"),
)
def llm_dsir_select_gumbel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm import dsir

    d = _docs(spark, sf_dir)
    return dsir.dsir_select_gumbel(
        d.filter(F.col("doc_id") % 20 != 0),
        d.filter(F.col("doc_id") % 20 == 0),
        k=_DSIR_K,
        temperature=_DSIR_GUMBEL_T,
        n_buckets=_DSIR_B,
    )


# ---------------------------------------------- ANN recall contracts
# The three rows-only ops (LSH/IVF ANN, LSH-blocked dedup) have seeded
# candidate generation no SQL engine can replay — but their QUALITY is
# still driver-checkable with the tolerance-contract pattern: the query
# computes the exact baseline AND the approximate answer, emits the
# per-query (or corpus-level) recall boolean, and the oracle emits the
# exact side + literal TRUE. Hash match == approximation held its bound.
@register(
    "llm_knn_lsh_contract",
    oracle="""
    SELECT vec_id AS query_id, TRUE AS recall_ok
    FROM embeddings WHERE vec_id < 10
    """,
    survey_ref="extension: ANN-LSH per-query recall contract (>=60% of "
    "exact top-5 recovered; multi-table observed ~95%)",
    tags=("llm", "similarity", "approx"),
)
def llm_knn_lsh_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") < 10)
    bf = similarity.knn_bruteforce(embs, queries, "vec_id", "embedding", k=5)
    lsh = similarity.knn_lsh(embs, queries, "vec_id", "embedding", k=5)
    hits = bf.join(lsh, ["query_id", "neighbor_id"], "left_semi")
    overlap = hits.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hit"))
    return (
        queries.select(F.col("vec_id").alias("query_id"))
        .join(overlap, "query_id", "left")
        .select(
            "query_id",
            (F.coalesce(F.col("n_hit"), F.lit(0)) >= 3).alias("recall_ok"),
        )
    )


@register(
    "llm_knn_ivf_contract",
    # CORPUS-LEVEL recall@5, the standard ANN contract (r13: the first
    # registry-wide sf0.1 sweep failed the old PER-QUERY >=2/5 bar —
    # measured: one sf0.1 query recovers only 1-2 of its exact top-5
    # even probing 5/10 cells, because on near-orthogonal synthetic
    # embeddings a query's true neighbors can straddle cells; no IVF
    # can promise per-query recall on unclusterable data, which is why
    # ANN systems quote MEAN recall@k. Observed: 82% at sf0.01, 62% at
    # sf0.1 probing 3/10 cells; the contract floor stays 40%).
    oracle="""
    SELECT COUNT(*) AS n_queries, TRUE AS recall_ok
    FROM embeddings WHERE vec_id < 10
    """,
    survey_ref="extension: ANN-IVF corpus-level recall contract "
    "(mean recall@5 >= 40% probing 3/10 cells; observed 62-82%)",
    tags=("llm", "similarity", "approx"),
)
def llm_knn_ivf_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") < 10)
    bf = similarity.knn_bruteforce(embs, queries, "vec_id", "embedding", k=5)
    ivf = similarity.knn_ivf(
        embs, queries, "vec_id", "embedding", k=5, n_cells=10, n_probe=3
    )
    hits = bf.join(ivf, ["query_id", "neighbor_id"], "left_semi")
    return (
        queries.agg(F.count(F.lit(1)).alias("n_queries"))
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("n_hit")))
        .select(
            "n_queries",
            # INTEGER floor arithmetic (r13 ADVICE): ceil(n*5*0.4) in
            # floating point silently over-tightens for counts where
            # the product picks up an ulp (n=7: 14.000000000000002 ->
            # 15); n_hit*10 >= n*5*4 is the exact 40%-of-(5n) bar.
            (
                F.col("n_hit") * F.lit(10) >= F.col("n_queries") * F.lit(5 * 4)
            ).alias("recall_ok"),
        )
    )


@register(
    "llm_dedup_embed_lsh_contract",
    oracle=f"""
    WITH {_AUG_CTE}
    SELECT COUNT(*) AS n_exact, TRUE AS recall_ok
    FROM aug a JOIN aug b ON a.vec_id < b.vec_id
    WHERE {_dot("a.embedding", "b.embedding")}
             / ({_norm("a.embedding")} * {_norm("b.embedding")}) >= 0.9
    """,
    survey_ref="extension: LSH-blocked embedding dedup corpus-level recall "
    "contract over the planted corpus (>=80% of exact threshold pairs "
    "recovered; blocking is the only approximation, precision 1.0)",
    tags=("llm", "dedup", "embedding", "approx"),
)
def llm_dedup_embed_lsh_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    embs = _embs_planted(spark, sf_dir)
    # exact side via blocked-GEMM candidates + exact expression verify
    # (r14: the raw quadratic expression join ran 228 s at sf0.1;
    # output-identical by the helper's contract)
    exact = similarity.exact_cosine_pairs(
        embs, "vec_id", "embedding", threshold=0.9
    )
    found = similarity.embedding_near_dups_lsh(
        embs, "vec_id", "embedding", threshold=0.9
    ).select("id_a", "id_b")
    # one lazy plan, no driver-side actions: a single global aggregate
    # counts exact pairs and LSH-recovered pairs in the same pass
    hit = exact.join(found, ["id_a", "id_b"], "left_semi").select(
        "id_a", "id_b", F.lit(1).alias("is_hit")
    )
    return (
        exact.join(hit, ["id_a", "id_b"], "left")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.sum(F.coalesce(F.col("is_hit"), F.lit(0))).alias("n_hit"),
        )
        .select(
            "n_exact",
            (
                (F.col("n_exact") > 0)
                & (F.col("n_hit") >= F.col("n_exact") * F.lit(0.8))
            ).alias("recall_ok"),
        )
    )


# --------------------------------------------------------------------------
# Training-sequence layout (llm/packing.py): the concatenate-then-split
# packing and overlapped context chunking every LM pipeline runs between
# curation and batching. Both exact integer layouts -> full hash oracles.
# --------------------------------------------------------------------------


@register(
    "llm_sequence_pack",
    oracle=f"""
    WITH tk AS (
        SELECT doc_id AS id,
               doc_id % 8 AS shard,
               len({TOKS}) AS n_tokens
        FROM documents
    ),
    nz AS (SELECT * FROM tk WHERE n_tokens > 0)
    SELECT id, shard,
           CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 512
                AS BIGINT) AS seq_id,
           CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS tok_offset,
           n_tokens
    FROM nz
    """,
    survey_ref="extension: concatenate-then-split sequence packing "
    "(shard-local running token offsets -> fixed seq_len cuts; the LM "
    "training-batch layout). One window shuffle partitioned by shard",
    tags=("llm", "layout"),
)
def llm_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm import packing

    return packing.sequence_pack(
        _docs(spark, sf_dir), "doc_id", "text", seq_len=512, n_shards=8
    )


@register(
    "llm_sequence_pack_bpe",
    oracle=f"""
    WITH tk AS (
        SELECT doc_id AS id,
               doc_id % 8 AS shard,
               len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))
                   AS n_tokens
        FROM documents
    ),
    nz AS (SELECT * FROM tk WHERE n_tokens > 0)
    SELECT id, shard,
           CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 512
                AS BIGINT) AS seq_id,
           CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS tok_offset,
           CAST(n_tokens AS BIGINT) AS n_tokens
    FROM nz
    """,
    survey_ref="extension: sequence packing under the BPE-ish token "
    "counter — layout boundaries use the same token accounting as "
    "token_stats.n_bpe_tokens / mixture budgets (pluggable counter; a "
    "real tokenizer drops in as a Column-valued callable)",
    tags=("llm", "layout"),
)
def llm_sequence_pack_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm import packing

    return packing.sequence_pack(
        _docs(spark, sf_dir), "doc_id", "text", seq_len=512, n_shards=8,
        counter="bpe",
    )


@register(
    "llm_chunk_overlap",
    oracle=f"""
    WITH tk AS (SELECT doc_id AS id, len({TOKS}) AS n_tokens FROM documents),
    nz AS (SELECT * FROM tk WHERE n_tokens > 0)
    SELECT id,
           CAST(g.ts // 96 AS BIGINT) AS chunk_id,
           CAST(g.ts AS BIGINT) AS tok_start,
           CAST(least(g.ts + 128, n_tokens) AS BIGINT) AS tok_end
    FROM nz, UNNEST(generate_series(0, n_tokens - 1, 96)) AS g(ts)
    """,
    survey_ref="extension: sliding context windows with overlap "
    "(chunk_size 128, overlap 32 -> stride 96; the RAG / long-context "
    "preprocessing shape). Narrow map + explode, zero shuffles",
    tags=("llm", "layout"),
)
def llm_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm import packing

    return packing.chunk_overlap(
        _docs(spark, sf_dir), "doc_id", "text", chunk_size=128, overlap=32
    )


@register(
    "llm_mixture_sample",
    oracle=f"""
    SELECT doc_id, lang FROM documents
    WHERE {_u32_sql("doc_id")} <
          CASE lang WHEN 'en' THEN {int(0.5 * (1 << 32))}
                    WHEN 'zh' THEN {1 << 32}
                    ELSE {int(0.2 * (1 << 32))} END
    """,
    survey_ref="extension: dataset-mixture weighting — per-source "
    "deterministic Bernoulli rates (en 0.5 / zh 1.0 / others 0.2), "
    "join- and retry-stable; narrow map, zero shuffles",
    tags=("llm", "sampling"),
)
def llm_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm import sampling

    return sampling.mixture_sample(
        _docs(spark, sf_dir), "lang", "doc_id",
        {"en": 0.5, "zh": 1.0}, default=0.2,
    ).select("doc_id", "lang")


@register(
    "llm_shuffle_order",
    oracle=f"""
    SELECT doc_id,
           ROW_NUMBER() OVER (
               ORDER BY {_u32_sql("'shuffle|' || CAST(doc_id AS VARCHAR)")},
                        doc_id) AS shuffle_rank
    FROM documents
    """,
    survey_ref="extension: deterministic global training-order shuffle "
    "via bucketed (TeraSort-style) ranking — hash high byte = range "
    "bucket, rank = bucket offset + within-bucket row_number; no "
    "single-partition sort of the corpus",
    tags=("llm", "sampling", "layout"),
)
def llm_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm import sampling

    return sampling.shuffle_order(_docs(spark, sf_dir), "doc_id").select(
        "doc_id", "shuffle_rank"
    )


@register(
    "llm_semdedup_contract",
    # exact side: full transitive closure over exactly-verified pairs at
    # the same threshold on the planted corpus; SemDeDup's cell blocking
    # can only LOSE pairs, so precision is structural (TRUE) and recall
    # is bounded below. Structured as ;-separated temp-table statements
    # (the pagerank/editdist-oracle pattern; r14 VERDICT ask #3 — the
    # last all-pairs CTE oracle): materializing aug WITH per-row norms
    # before the quadratic scan lets DuckDB parallelize the pair
    # projection instead of serializing it inside the recursive-CTE
    # pipeline, and computes each row's norm once instead of once per
    # pair — measured 69.6 s -> 18.5 s at sf0.1, output identical
    # (same dot/norm arithmetic on the same rows, just reused).
    oracle=f"""
    CREATE OR REPLACE TEMP TABLE sd_oracle_aug AS
    WITH {_AUG_CTE}
    SELECT vec_id, embedding, {_norm("embedding")} AS nrm FROM aug;
    CREATE OR REPLACE TEMP TABLE sd_oracle_pr AS
    SELECT a.vec_id AS id_a, b.vec_id AS id_b
    FROM sd_oracle_aug a JOIN sd_oracle_aug b ON a.vec_id < b.vec_id
    WHERE {_dot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) >= 0.9;
    WITH RECURSIVE
    e AS (
        SELECT id_a AS src, id_b AS dst FROM sd_oracle_pr
        UNION
        SELECT id_b, id_a FROM sd_oracle_pr
    ),
    reach(id, lbl) AS (
        SELECT DISTINCT src, src FROM e
        UNION
        SELECT e.src, r.lbl FROM e JOIN reach r ON e.dst = r.id
    ),
    lab AS (SELECT id, MIN(lbl) AS cluster_id FROM reach GROUP BY id)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_removed_exact,
           TRUE AS precision_ok, TRUE AS recall_ok
    FROM lab WHERE cluster_id <> id
    """,
    survey_ref="extension: SemDeDup (arXiv:2303.09540 shape) — k-means "
    "cells -> exact-verified within-cell pairs -> connected components "
    "-> keep min-id representative. Contract on the planted corpus: "
    "removal precision 1.0 (every removal chain is exactly verified), "
    "removal recall >= 0.8 vs the unblocked exact closure",
    tags=("llm", "dedup", "embedding", "approx"),
)
def llm_semdedup_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    embs = _embs_planted(spark, sf_dir)
    sd = similarity.semdedup(
        embs, "vec_id", "embedding", threshold=0.9, n_cells=8
    )
    approx_removed = sd.filter(~F.col("keep")).select("id").withColumn(
        "in_ap", F.lit(1)
    )
    # exact ground-truth side via the blocked-GEMM candidates + exact
    # expression verify (r14: the raw quadratic expression join ran
    # 254 s at sf0.1; output-identical by the helper's contract)
    exact_pairs = similarity.exact_cosine_pairs(
        embs, "vec_id", "embedding", threshold=0.9
    )
    exact_removed = (
        dedup.dup_clusters(exact_pairs)
        .filter(F.col("cluster_id") != F.col("id"))
        .select("id")
        .withColumn("in_ex", F.lit(1))
    )
    m = exact_removed.join(approx_removed, "id", "full")
    return m.agg(
        F.sum(F.coalesce("in_ex", F.lit(0))).cast("long").alias("n_removed_exact"),
        F.sum(
            F.when(F.col("in_ex").isNotNull() & F.col("in_ap").isNotNull(), 1).otherwise(0)
        ).alias("n_hit"),
        F.sum(
            F.when(F.col("in_ex").isNull() & F.col("in_ap").isNotNull(), 1).otherwise(0)
        ).alias("n_bad"),
    ).select(
        "n_removed_exact",
        (F.col("n_bad") == 0).alias("precision_ok"),
        (F.col("n_hit") >= F.col("n_removed_exact") * F.lit(0.8)).alias("recall_ok"),
    )


# ------------------------------------------------------- paragraph dedup
# The synthetic corpus has no duplicate documents, so the query plants
# them deterministically (same pattern as llm_dedup_embed_planted):
# full copies (doc_id%10==0 -> +100000) whose every paragraph dies, and
# prefix copies (doc_id%10==5 -> +200000, first 40 tokens + a unique
# tail) where only the whole 20-token windows shared with the original
# die — exercising full-removal, partial-removal, and untouched paths.
_PARA_W = 20


def _para_corpus_sql(src: str = "documents") -> str:
    """The planted paragraph-dup corpus CTE over any (doc_id, text)
    relation ``src`` — parameterized so composed pipelines (the full
    raw-to-shards chain) can plant over stage-1 survivors."""
    return f"""
corpus AS (
    SELECT doc_id, text FROM {src}
    UNION ALL
    SELECT doc_id + 100000 AS doc_id, text FROM {src} WHERE doc_id % 10 = 0
    UNION ALL
    SELECT doc_id + 200000 AS doc_id,
           array_to_string(list_slice({TOKS}, 1, 40), ' ')
             || ' planted tail marker ' || CAST(doc_id AS VARCHAR) AS text
    FROM {src} WHERE doc_id % 10 = 5
)
"""


_PARA_CORPUS_SQL = _para_corpus_sql("documents")


def _para_corpus_from(docs: DataFrame) -> DataFrame:
    """Spark rendering of _para_corpus_sql over any (doc_id, text) frame."""
    docs = docs.select("doc_id", "text")
    toks = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda t: t != ""
    )
    plant_full = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    plant_prefix = docs.filter(F.col("doc_id") % 10 == 5).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(
            F.concat_ws(" ", F.slice(toks, 1, 40)),
            F.lit(" planted tail marker "),
            F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    return docs.unionByName(plant_full).unionByName(plant_prefix)


def _para_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _para_corpus_from(_docs(spark, sf_dir))



@register(
    "llm_dedup_paragraph",
    oracle=f"""
    WITH {_PARA_CORPUS_SQL},
    tk AS (SELECT doc_id, {TOKS} AS toks FROM corpus),
    seg AS (
        SELECT doc_id, i AS pos,
               array_to_string(
                   list_slice(toks, i*{_PARA_W}+1, i*{_PARA_W}+{_PARA_W}),
                   ' ') AS seg
        FROM tk, UNNEST(generate_series(
                 0, CAST(ceil(len(toks)/{_PARA_W}.0) AS INT) - 1)) AS t(i)
        WHERE len(toks) > 0
    ),
    hs AS (SELECT doc_id, pos, seg, md5(seg) AS h FROM seg),
    st AS (SELECT h, COUNT(DISTINCT doc_id) AS n_docs,
                  MIN(struct_pack(d := doc_id, p := pos)) AS first
           FROM hs GROUP BY h),
    mk AS (SELECT hs.doc_id, hs.pos, hs.seg,
                  (st.n_docs <= 1 OR (hs.doc_id = (st.first).d
                                      AND hs.pos = (st.first).p)) AS keep
           FROM hs JOIN st USING (h))
    SELECT doc_id AS id,
           COUNT(*) AS n_segments,
           CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_removed,
           COALESCE(string_agg(CASE WHEN keep THEN seg END, ' '
                               ORDER BY pos), '') AS clean_text
    FROM mk GROUP BY doc_id
    """,
    survey_ref="extension: paragraph-hash cross-document dedup (CCNet / "
    "RefinedWeb line-hash pass, keep-first-occurrence; fixed 20-token "
    "segmenter stands in for newline paragraphs absent from the flat "
    "synthetic text)",
    tags=("llm", "dedup"),
    bench=True,
)
def llm_dedup_paragraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.paragraph_dedup(
        _para_corpus(spark, sf_dir), "doc_id", "text", window=_PARA_W
    )


@register(
    "llm_boilerplate_strip",
    # Same planted corpus and segmentation as llm_dedup_paragraph, but the
    # keep rule is the boilerplate one: a segment held by >1 document dies
    # in EVERY document (no keep-first canonical copy) — full copies lose
    # every segment on BOTH sides, prefix copies lose the shared windows
    # on both sides, unique docs pass untouched.
    oracle=f"""
    WITH {_PARA_CORPUS_SQL},
    tk AS (SELECT doc_id, {TOKS} AS toks FROM corpus),
    seg AS (
        SELECT doc_id, i AS pos,
               array_to_string(
                   list_slice(toks, i*{_PARA_W}+1, i*{_PARA_W}+{_PARA_W}),
                   ' ') AS seg
        FROM tk, UNNEST(generate_series(
                 0, CAST(ceil(len(toks)/{_PARA_W}.0) AS INT) - 1)) AS t(i)
        WHERE len(toks) > 0
    ),
    hs AS (SELECT doc_id, pos, seg, md5(seg) AS h FROM seg),
    st AS (SELECT h, COUNT(DISTINCT doc_id) AS n_docs FROM hs GROUP BY h),
    mk AS (SELECT hs.doc_id, hs.pos, hs.seg, st.n_docs <= 1 AS keep
           FROM hs JOIN st USING (h))
    SELECT doc_id AS id,
           COUNT(*) AS n_segments,
           CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_removed,
           COALESCE(string_agg(CASE WHEN keep THEN seg END, ' '
                               ORDER BY pos), '') AS clean_text
    FROM mk GROUP BY doc_id
    """,
    survey_ref="extension: corpus-frequency boilerplate removal (CCNet / "
    "RefinedWeb line-DF pass: a segment in more than max_df documents is "
    "noise and dies everywhere, unlike paragraph dedup's keep-first)",
    tags=("llm", "dedup", "text"),
)
def llm_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.boilerplate_strip(
        _para_corpus(spark, sf_dir), "doc_id", "text", window=_PARA_W, max_df=1
    )


@register(
    "llm_gopher_filter",
    oracle=f"""
    WITH tk AS (SELECT doc_id,
                COALESCE({TOKS}, CAST([] AS VARCHAR[])) AS toks
                FROM documents),
    feat AS (
        SELECT doc_id, len(toks) AS n,
               CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
                 / CAST(len(toks) AS DOUBLE) AS mean_len,
               CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-z]')))
                 AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS alpha_frac,
               len(list_filter(toks, t -> list_contains(
                   ['the','a','of','and','is','to','in'], t))) AS n_stop
        FROM tk
    )
    SELECT doc_id AS id, n AS n_tokens,
           (n > 0 AND n BETWEEN 20 AND 100000) AS r_word_count,
           COALESCE(n > 0 AND mean_len BETWEEN 3.0 AND 10.0, FALSE) AS r_mean_len,
           COALESCE(n > 0 AND alpha_frac >= 0.8, FALSE) AS r_alpha_frac,
           (n > 0 AND n_stop >= 2) AS r_stopwords,
           ((n > 0 AND n BETWEEN 20 AND 100000)
            AND COALESCE(n > 0 AND mean_len BETWEEN 3.0 AND 10.0, FALSE)
            AND COALESCE(n > 0 AND alpha_frac >= 0.8, FALSE)
            AND (n > 0 AND n_stop >= 2)) AS keep
    FROM feat
    """,
    survey_ref="extension: Gopher rule-based quality filter decisions "
    "(Rae et al. 2021 A1.1 — word-count / mean-word-length / "
    "alpha-fraction / stopword-hit rules, fail-closed on empty docs)",
    tags=("llm", "text"),
)
def llm_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.gopher_filter(_docs(spark, sf_dir), "doc_id", "text")


# ----------------------------------------- quality-classifier inference
# fastText-style linear model over hashed n-gram features (llm/text.py::
# quality_classifier): unigrams + adjacent bigrams hashed into QC_DIM
# buckets, md5-derived integer weights, exact integer logit, Gopher
# verdict as a +-0.2 bump. The whole inference is one narrow projection
# (zero exchanges — plan-gated in tests/test_plan_quality.py).
_QC_GOPHER_SQL = """
        (len(toks) > 0 AND len(toks) BETWEEN 20 AND 100000
         AND COALESCE(CAST(list_sum(list_transform(toks, t -> length(t)))
               AS DOUBLE) / CAST(len(toks) AS DOUBLE)
               BETWEEN 3.0 AND 10.0, FALSE)
         AND COALESCE(CAST(len(list_filter(toks, t ->
               regexp_matches(t, '[a-z]'))) AS DOUBLE)
               / CAST(len(toks) AS DOUBLE) >= 0.8, FALSE)
         AND len(list_filter(toks, t -> list_contains(
               ['the','a','of','and','is','to','in'], t))) >= 2)
"""


@register(
    "llm_quality_classifier",
    oracle=f"""
    WITH tk AS (SELECT doc_id,
                COALESCE({TOKS}, CAST([] AS VARCHAR[])) AS toks
                FROM documents),
    ft AS (
        SELECT doc_id, toks,
               list_concat(toks,
                 list_transform(generate_series(1, len(toks) - 1),
                                i -> toks[i] || ' ' || toks[i + 1])) AS feats
        FROM tk
    ),
    bk AS (
        SELECT doc_id, toks, CAST(len(feats) AS BIGINT) AS n_features,
               list_transform(feats, f -> ({_u32_sql("f")}) % {text.QC_DIM})
                 AS buckets
        FROM ft
    ),
    sm AS (
        SELECT doc_id, n_features,
               CAST(COALESCE(list_sum(list_transform(buckets, b ->
                   ({_u32_sql(f"'{text.QC_SEED}:' || CAST(b AS VARCHAR)")})
                     % 2001 - 1000)), 0) AS BIGINT) AS w_sum,
               {_QC_GOPHER_SQL} AS gopher_keep
        FROM bk
    )
    SELECT doc_id AS id, n_features, w_sum, gopher_keep,
           CAST(5 * w_sum + (CASE WHEN gopher_keep THEN {text.QC_GOPHER_BUMP_MILLI}
                ELSE -{text.QC_GOPHER_BUMP_MILLI} END) * 5 * n_features
                AS BIGINT) AS logit_5k,
           (n_features > 0 AND
            5 * w_sum + (CASE WHEN gopher_keep THEN {text.QC_GOPHER_BUMP_MILLI}
                ELSE -{text.QC_GOPHER_BUMP_MILLI} END) * 5 * n_features >= 0)
             AS keep
    FROM sm
    """,
    survey_ref="extension: quality-classifier inference (fastText-style "
    "hashed n-gram linear model, CCNet/GPT-3-lineage; Gopher rules fold "
    "in as one signal; integer-exact logit, sigmoid threshold decided on "
    "the logit sign)",
    tags=("llm", "text"),
    bench=True,
)
def llm_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.quality_classifier(_docs(spark, sf_dir), "doc_id", "text")


# ------------------------------------------------------------ BM25 search
from ..llm import retrieval  # noqa: E402  (keeps module import order obvious)

# fixed literal query set over the synthetic corpus vocabulary — literals
# appear verbatim on both engines, so no runtime query derivation
_BM25_QUERIES: list[tuple[int, list[str]]] = [
    (0, ["table", "scan"]),
    (1, ["window", "agg", "join"]),
    (2, ["spark", "stream", "merge"]),
    (3, ["vector", "hash"]),
]
_BM25_K = 5
_BM25_Q_SQL = ", ".join(
    f"({qid}, '{t}')" for qid, terms in _BM25_QUERIES for t in terms
)


@register(
    "llm_tfidf_keywords",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {TOKS} AS toks FROM documents),
    postings AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM (
            SELECT doc_id, UNNEST(toks) AS term FROM tk
        ) GROUP BY doc_id, term
    ),
    dft AS (SELECT term, COUNT(DISTINCT doc_id) AS df
            FROM postings GROUP BY term),
    corpus AS (SELECT COUNT(*) AS n_docs FROM tk),
    scored AS (
        SELECT p.doc_id, p.term, p.tf, d.df,
               CAST(p.tf AS DOUBLE) *
                 ((CAST(c.n_docs AS DOUBLE) - CAST(d.df AS DOUBLE) + 0.5)
                  / (CAST(d.df AS DOUBLE) + 0.5)) AS score
        FROM postings p JOIN dft d ON p.term = d.term, corpus c
    )
    SELECT doc_id, rnk, term, tf, df, score FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                       ORDER BY score DESC, term) AS BIGINT) AS rnk
        FROM scored
    ) WHERE rnk <= 3
    """,
    survey_ref="extension: TF-IDF keyword extraction — top-3 "
    "characteristic terms per document (the document-side complement of "
    "BM25; rational-idf for engine-exact scores)",
    tags=("llm", "text", "retrieval"),
    bench=True,
)
def llm_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    return retrieval.tfidf_keywords(_docs(spark, sf_dir), "doc_id", "text", k=3)




@register(
    "llm_bm25_topk",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {TOKS} AS toks FROM documents),
    base AS (SELECT doc_id, toks, len(toks) AS dl FROM tk),
    corpus AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total_len FROM base),
    posting AS (SELECT doc_id, dl, t.term, COUNT(*) AS tf
                FROM base, UNNEST(toks) AS t(term) GROUP BY 1, 2, 3),
    q(query_id, term) AS (VALUES {_BM25_Q_SQL}),
    sel AS (SELECT q.query_id, p.term, p.doc_id, p.dl, p.tf
            FROM posting p JOIN q USING (term)),
    dft AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM sel GROUP BY 1),
    scored AS (
        SELECT s.query_id, s.doc_id, s.term,
               ((CAST(c.n_docs AS DOUBLE) - CAST(d.df AS DOUBLE) + 0.5)
                / (CAST(d.df AS DOUBLE) + 0.5))
               * ((CAST(s.tf AS DOUBLE) * 2.2)
                  / (CAST(s.tf AS DOUBLE)
                     + 1.2 * (0.25 + 0.75 * (CAST(s.dl AS DOUBLE)
                         / (CAST(c.total_len AS DOUBLE)
                            / CAST(c.n_docs AS DOUBLE)))))) AS tscore
        FROM sel s JOIN dft d USING (term) CROSS JOIN corpus c
    ),
    agg AS (
        SELECT query_id, doc_id, COUNT(*) AS n_matched,
               list_reduce(list(tscore ORDER BY term), (x, y) -> x + y) AS score
        FROM scored GROUP BY 1, 2
    )
    SELECT CAST(query_id AS BIGINT) AS query_id, rnk, doc_id, n_matched, score
    FROM (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                         ORDER BY score DESC, doc_id) AS INT) AS rnk
          FROM agg)
    WHERE rnk <= {_BM25_K}
    """,
    survey_ref="extension: BM25 keyword retrieval (inverted-index postings "
    "+ rational-idf scoring + per-query top-k; sorted-fold double sums "
    "for engine-exact parity — see llm/retrieval.py docstring)",
    tags=("llm", "retrieval"),
    bench=True,
)
def llm_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return retrieval.bm25_topk(
        _docs(spark, sf_dir), "doc_id", "text", _BM25_QUERIES, k=_BM25_K
    )


# -------------------------------------------- temperature mixture + keep-best
_TEMP_FRAC = 0.5


@register(
    "llm_mixture_temperature",
    oracle=f"""
    WITH cnt AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
    tot AS (SELECT SUM(n) AS N,
                   list_reduce(list(sqrt(CAST(n AS DOUBLE)) ORDER BY lang),
                               (x, y) -> x + y) AS S
            FROM cnt),
    rt AS (SELECT c.lang,
                  LEAST(1.0, ({_TEMP_FRAC} * CAST(t.N AS DOUBLE)
                              * sqrt(CAST(c.n AS DOUBLE)))
                             / (t.S * CAST(c.n AS DOUBLE))) AS r
           FROM cnt c CROSS JOIN tot t)
    SELECT d.doc_id, d.lang FROM documents d JOIN rt ON rt.lang = d.lang
    WHERE {_u32_sql("doc_id")} < CAST(floor(r * 4294967296.0) AS BIGINT)
    """,
    survey_ref="extension: temperature-weighted mixture resampling "
    "(alpha=0.5 square-root temperature; sqrt is correctly rounded on "
    "both engines so rates are engine-exact — llm/sampling.py docstring)",
    tags=("llm", "sampling"),
)
def llm_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm import sampling

    return sampling.mixture_temperature_sqrt(
        _docs(spark, sf_dir), "lang", "doc_id", target_fraction=_TEMP_FRAC
    ).select("doc_id", "lang")


@register(
    "llm_dup_cluster_keep_best",
    # same transitive-closure oracle as llm_dup_clusters, extended with
    # the per-cluster quality argmax ((score, -id) struct max on both
    # engines -> identical lexicographic comparison)
    oracle=f"""
    WITH RECURSIVE {SHINGLE_CTE},
    sig AS (
        SELECT doc_id,
           {_MH_COLS}
        FROM sh GROUP BY doc_id
    ),
    bk AS (
        SELECT DISTINCT doc_id, bucket
        FROM (SELECT doc_id, UNNEST([{_BANDS_SQL}]) AS bucket FROM sig)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
    ),
    common AS (
        SELECT c.id_a, c.id_b, COUNT(*) AS common
        FROM cand c
        JOIN sh a ON a.doc_id = c.id_a
        JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
        GROUP BY c.id_a, c.id_b
    ),
    pr AS (
        SELECT id_a, id_b
        FROM common
        JOIN sizes sa ON id_a = sa.doc_id
        JOIN sizes sb ON id_b = sb.doc_id
        WHERE CAST(common AS DOUBLE) / CAST(sa.n + sb.n - common AS DOUBLE) >= 0.4
    ),
    e AS (
        SELECT id_a AS src, id_b AS dst FROM pr
        UNION
        SELECT id_b, id_a FROM pr
    ),
    reach(id, lbl) AS (
        SELECT DISTINCT src, src FROM e
        UNION
        SELECT e.src, r.lbl FROM e JOIN reach r ON e.dst = r.id
    ),
    cl AS (SELECT id, MIN(lbl) AS cluster_id FROM reach GROUP BY id),
    qq AS (SELECT doc_id AS id,
                  CAST(len(list_distinct(toks)) AS DOUBLE)
                    / CAST(len(toks) AS DOUBLE) AS q
           FROM tk WHERE len(toks) > 0),
    j AS (SELECT cl.cluster_id, cl.id, qq.q FROM cl JOIN qq USING (id))
    SELECT cluster_id,
           CAST(-((MAX(struct_pack(q := q, negid := -id))).negid) AS BIGINT)
             AS keep_id,
           COUNT(*) AS n_members,
           (MAX(struct_pack(q := q, negid := -id))).q AS keep_score
    FROM j GROUP BY cluster_id
    """,
    survey_ref="extension: quality-based duplicate-cluster representative "
    "selection (keep the best copy by uniq_ratio, not the min id; "
    "llm/dedup.py cluster_representatives)",
    tags=("llm", "dedup", "iterative"),
)
def llm_dup_cluster_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.4)
    clusters = dedup.dup_clusters(pairs)
    quality = text.quality_score(docs, "doc_id", "text").select("id", "uniq_ratio")
    return dedup.cluster_representatives(clusters, quality, "uniq_ratio")


# ------------------------------------------------------------- PageRank
from ..llm.graph import PR_SCALE, pagerank  # noqa: E402

_PR_ITERS = 5


def _pr_oracle_statements(n_iters: int) -> str:
    """One CREATE TEMP TABLE per PageRank iteration (r11 VERDICT ask #5).

    The previous single-statement form unrolled the iterations as chained
    CTEs over the near-dup pair CTE; DuckDB re-expanded the expensive
    shingle self-join under each iteration and needed >80 GB of temp at
    sf0.1.  Materializing the edge table ONCE and iterating over small
    (id, deg, n, pr) temp tables keeps every statement trivially bounded,
    so the voluntary 10x parity sweep can run this oracle too.  DuckDB's
    Python execute() runs all ;-separated statements and fetches the
    last SELECT; CREATE OR REPLACE makes re-runs on a shared connection
    idempotent.
    """
    stmts = [
        f"""
    CREATE OR REPLACE TEMP TABLE pr_oracle_ed AS
    WITH {SHINGLE_CTE},
    sig AS (
        SELECT doc_id,
           {_MH_COLS}
        FROM sh GROUP BY doc_id
    ),
    bk AS (
        SELECT DISTINCT doc_id, bucket
        FROM (SELECT doc_id, UNNEST([{_BANDS_SQL}]) AS bucket FROM sig)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
    ),
    common AS (
        SELECT c.id_a, c.id_b, COUNT(*) AS common
        FROM cand c
        JOIN sh a ON a.doc_id = c.id_a
        JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
        GROUP BY c.id_a, c.id_b
    ),
    pr AS (
        SELECT id_a, id_b
        FROM common
        JOIN sizes sa ON id_a = sa.doc_id
        JOIN sizes sb ON id_b = sb.doc_id
        WHERE CAST(common AS DOUBLE) / CAST(sa.n + sb.n - common AS DOUBLE) >= 0.4
    )
    SELECT id_a AS src, id_b AS dst FROM pr
    UNION
    SELECT id_b, id_a FROM pr""",
        f"""
    CREATE OR REPLACE TEMP TABLE pr_oracle_s0 AS
    WITH dg AS (SELECT src AS id, COUNT(*) AS deg FROM pr_oracle_ed GROUP BY src),
    nn AS (SELECT COUNT(*) AS n FROM dg)
    SELECT id, deg, n, CAST({PR_SCALE} // n AS BIGINT) AS pr
    FROM dg CROSS JOIN nn""",
    ]
    for t in range(1, n_iters + 1):
        stmts.append(f"""
    CREATE OR REPLACE TEMP TABLE pr_oracle_s{t} AS
    WITH c AS (
        SELECT e.dst, SUM(p.pr // p.deg) AS sumc
        FROM pr_oracle_ed e JOIN pr_oracle_s{t - 1} p ON e.src = p.id
        GROUP BY e.dst
    )
    SELECT p.id, p.deg, p.n,
           CAST(({15 * PR_SCALE} // (100 * p.n))
                + ((85 * COALESCE(c.sumc, 0)) // 100) AS BIGINT) AS pr
    FROM pr_oracle_s{t - 1} p LEFT JOIN c ON c.dst = p.id""")
    stmts.append(f"""
    SELECT id, pr FROM pr_oracle_s{n_iters}
    """)
    return ";".join(stmts)


@register(
    "llm_pagerank_centrality",
    # the near-dup pair graph is the (exact) MinHash oracle from
    # llm_dedup_minhash, materialized ONCE as a temp table; PageRank
    # itself is 5 fixed-point iterations, one temp-table statement each
    # — integer sums and floor divisions are engine-exact, see
    # llm/graph.py docstring
    oracle=_pr_oracle_statements(_PR_ITERS),
    survey_ref="extension: PageRank centrality over the near-dup graph "
    "(second iterative BSP algorithm beside dup_clusters' connected "
    "components; fixed-point integer arithmetic for engine-exact "
    "parity — llm/graph.py)",
    tags=("llm", "graph", "iterative"),
)
def llm_pagerank_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dedup.minhash_lsh_pairs(
        _docs(spark, sf_dir), "doc_id", "text", threshold=0.4
    ).select("id_a", "id_b")
    return pagerank(pairs, iterations=_PR_ITERS)


@register(
    "llm_bpe_pair_counts",
    oracle=f"""
    WITH tk AS (
        SELECT doc_id,
               regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]') AS toks
        FROM documents
    ),
    pairs AS (
        SELECT toks[i] || ' ' || toks[i+1] AS pair
        FROM tk, UNNEST(generate_series(1, len(toks) - 1)) AS t(i)
        WHERE len(toks) >= 2
    ),
    ct AS (SELECT pair, COUNT(*) AS n FROM pairs GROUP BY pair)
    SELECT pair, n,
           CAST(ROW_NUMBER() OVER (ORDER BY n DESC, pair) AS BIGINT) AS rk
    FROM ct ORDER BY n DESC, pair LIMIT 20
    """,
    survey_ref="extension: BPE-merge pair statistics — the counting core "
    "of one tokenizer-training step (corpus-wide adjacent-token pair "
    "counts over the BPE-ish pre-tokenization, top-20 merge candidates); "
    "full BPE training iterates this aggregation per merge",
    tags=("llm", "text", "tokenizer"),
)
def llm_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    # r16: token array materialized before the pair lambda (the
    # shingles()/lm._bigrams inlining trap — the regex expression inside
    # the lambda re-tokenizes per element)
    pre = docs.select(
        F.regexp_extract_all(
            F.lower(F.col("text")), F.lit(text.BPE_RE), 0
        ).alias("__toks")
    )
    toks = F.col("__toks")
    pairs = pre.select(
        F.explode(
            F.when(
                F.size(toks) >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size(toks) - 1),
                    lambda i: F.concat_ws(
                        " ", F.element_at(toks, i), F.element_at(toks, i + 1)
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("pair")
    )
    ct = pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("n"))
    # top-20 via orderBy+limit = TakeOrderedAndProject (per-partition
    # heaps + merge); the ranking window then runs over 20 rows, never
    # a single-partition sort of the whole pair vocabulary
    top = ct.orderBy(F.desc("n"), F.asc("pair")).limit(20)
    w = Window.orderBy(F.desc("n"), F.asc("pair"))
    return top.withColumn("rk", F.row_number().over(w).cast("long")).select(
        "pair", "n", "rk"
    )


# ------------------------------------------- count-min sketch / heavy hitters
from ..llm import sketch as sketch_mod  # noqa: E402

_CMS_W, _CMS_D, _CMS_MIN = 1024, 4, 50
# rarity threshold for rare_token_score: the synthetic vocabulary's
# frequency floor is ~26-29 at test scales vs ~900 for common tokens, so
# 100 cleanly marks the rare tail at both sf0.001 (parity sweep) and
# sf0.01 (driver) while every common token stays common
_CMS_MIN_FREQ = 100
_CMS_TOKS = f"COALESCE({TOKS}, CAST([] AS VARCHAR[]))"


def _cms_bucket_sql(tok: str, rw: str) -> str:
    cell = "'cms|' || CAST(" + rw + " AS VARCHAR) || '|' || " + tok
    return f"({_u32_sql(cell)}) % {_CMS_W}"


_CMS_SKETCH_CTES = f"""
    tk AS (SELECT UNNEST({_CMS_TOKS}) AS token FROM documents),
    cells AS (SELECT token, CAST(r AS BIGINT) AS rw,
                     {_cms_bucket_sql('token', 'r')} AS bucket
              FROM tk, UNNEST([0,1,2,3]) AS t(r)),
    sketch AS (SELECT rw, bucket, COUNT(*) AS cnt
               FROM cells GROUP BY rw, bucket)"""


@register(
    "llm_token_cms_heavy",
    oracle=f"""
    WITH {_CMS_SKETCH_CTES},
    vocab AS (SELECT DISTINCT token FROM tk),
    probes AS (SELECT token, CAST(r AS BIGINT) AS rw,
                      {_cms_bucket_sql('token', 'r')} AS bucket
               FROM vocab, UNNEST([0,1,2,3]) AS t(r)),
    est AS (SELECT p.token, MIN(COALESCE(s.cnt, 0)) AS cms_est
            FROM probes p LEFT JOIN sketch s
              ON p.rw = s.rw AND p.bucket = s.bucket
            GROUP BY p.token),
    heavy AS (SELECT token, CAST(cms_est AS BIGINT) AS cms_est
              FROM est WHERE cms_est >= {_CMS_MIN}),
    exact AS (SELECT tk.token, COUNT(*) AS exact_cnt
              FROM tk JOIN heavy ON tk.token = heavy.token GROUP BY tk.token)
    SELECT h.token, h.cms_est, CAST(e.exact_cnt AS BIGINT) AS exact_cnt
    FROM heavy h JOIN exact e ON h.token = e.token
    """,
    survey_ref="extension: count-min-sketch heavy hitters (Cormode & "
    "Muthukrishnan 2005) — fixed (depth x width) counter grid replaces "
    "the vocabulary-sized exact shuffle; md5-derived cells make the "
    "sketch engine-exact; one-sided guarantee (est >= exact, "
    "property-tested) means no true heavy hitter is ever missed; the "
    "exact column joins AFTER the estimate filter, i.e. over heavy "
    "candidates only",
    tags=("llm", "text", "sketch"),
    bench=True,
)
def llm_token_cms_heavy(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sketch_mod.cms_heavy_hitters(
        _docs(spark, sf_dir), "text", min_count=_CMS_MIN,
        width=_CMS_W, depth=_CMS_D,
    )


@register(
    "llm_token_cms_heavy_scale",
    oracle=f"""
    WITH {_CMS_SKETCH_CTES},
    exact AS (SELECT token, COUNT(*) AS exact_cnt
              FROM tk GROUP BY token HAVING COUNT(*) >= {_CMS_MIN}),
    probes AS (SELECT token, CAST(r AS BIGINT) AS rw,
                      {_cms_bucket_sql('token', 'r')} AS bucket
               FROM exact, UNNEST([0,1,2,3]) AS t(r)),
    est AS (SELECT p.token, MIN(COALESCE(s.cnt, 0)) AS cms_est
            FROM probes p LEFT JOIN sketch s
              ON p.rw = s.rw AND p.bucket = s.bucket
            GROUP BY p.token)
    SELECT e.token, CAST(est.cms_est AS BIGINT) AS cms_est,
           CAST(e.exact_cnt AS BIGINT) AS exact_cnt
    FROM exact e JOIN est ON e.token = est.token
    """,
    survey_ref="extension (VERDICT r7 ask #5): heavy hitters with a "
    "SCALE-SAFE candidate source — per-partition local counting with a "
    "pigeonhole threshold (total >= T across P partitions forces a "
    "local count >= ceil(T/P) somewhere) replaces the vocabulary-sized "
    "distinct of llm_token_cms_heavy; nothing vocabulary-shaped is "
    "exchanged (plan-gated: the candidate emitter is exchange-free), "
    "and both one-sided guarantees compose — candidates ⊇ true heavies "
    "(pigeonhole), est >= exact (CMS) — so the exact final filter "
    "returns precisely the true heavy-hitter set",
    tags=("llm", "text", "sketch"),
    bench=True,
)
def llm_token_cms_heavy_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sketch_mod.cms_heavy_hitters_scale(
        _docs(spark, sf_dir), "text", min_count=_CMS_MIN,
        width=_CMS_W, depth=_CMS_D,
    )


@register(
    "llm_rare_token_score",
    oracle=f"""
    WITH {_CMS_SKETCH_CTES},
    dtk AS (SELECT doc_id AS id, UNNEST({_CMS_TOKS}) AS token FROM documents),
    occ AS (SELECT id, token, COUNT(*) AS occ FROM dtk GROUP BY id, token),
    probes AS (SELECT id, token, occ, CAST(r AS BIGINT) AS rw,
                      {_cms_bucket_sql('token', 'r')} AS bucket
               FROM occ, UNNEST([0,1,2,3]) AS t(r)),
    estp AS (SELECT p.id, p.token, p.occ,
                    MIN(COALESCE(s.cnt, 0)) AS cms_est
             FROM probes p LEFT JOIN sketch s
               ON p.rw = s.rw AND p.bucket = s.bucket
             GROUP BY p.id, p.token, p.occ),
    agg AS (SELECT id, SUM(occ) AS n_tokens,
                   SUM(CASE WHEN cms_est < {_CMS_MIN_FREQ} THEN occ ELSE 0 END)
                     AS n_rare
            FROM estp GROUP BY id)
    SELECT d.doc_id AS id,
           CAST(COALESCE(a.n_tokens, 0) AS BIGINT) AS n_tokens,
           CAST(COALESCE(a.n_rare, 0) AS BIGINT) AS n_rare,
           CASE WHEN COALESCE(a.n_tokens, 0) = 0 THEN 0.0
                ELSE CAST(a.n_rare AS DOUBLE) / CAST(a.n_tokens AS DOUBLE)
           END AS rare_frac
    FROM (SELECT DISTINCT doc_id FROM documents) d
    LEFT JOIN agg a ON d.doc_id = a.id
    """,
    survey_ref="extension: per-document rarity scoring with the sketch "
    "as a DIMENSION — every token occurrence classified rare/common by "
    "its frequency ESTIMATE; only the fixed grid broadcasts (nothing "
    "vocabulary-shaped moves), so the reference corpus behind the "
    "'dimension' can be 100 TB; the S11 cache-aside replacement shape "
    "with a sketch standing in for the dim table; conservative by the "
    "CMS one-sided guarantee (collisions never flag common as rare)",
    tags=("llm", "text", "sketch"),
    bench=True,
)
def llm_rare_token_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sketch_mod.rare_token_score(
        _docs(spark, sf_dir), "doc_id", "text",
        min_freq=_CMS_MIN_FREQ, width=_CMS_W, depth=_CMS_D,
    )


# ------------------------------------------------ full BPE training loop
from ..llm import bpe as bpe_mod  # noqa: E402

_BPE_MERGES = 8


@register(
    "llm_bpe_train",
    oracle=bpe_mod.bpe_train_oracle_sql(_BPE_MERGES),
    survey_ref="extension: full BPE tokenizer training (Sennrich et al. "
    "2016) — iterates count -> argmax -> greedy merge -> re-tokenize "
    f"{_BPE_MERGES} times over the word-frequency symbol table; the same "
    "iterative-BSP discipline as PageRank/star-CC (per-round lineage "
    "checkpoint, one wid shuffle per round, O(1) driver scalars); oracle "
    "is the identical algebra unrolled into materialized DuckDB CTEs",
    tags=("llm", "text", "tokenizer", "iterative"),
    bench=True,
)
def llm_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bpe_mod.bpe_train(_docs(spark, sf_dir), "text", n_merges=_BPE_MERGES)


@register(
    "llm_bpe_encode",
    oracle=bpe_mod.bpe_train_oracle_sql(_BPE_MERGES, final="encoded"),
    survey_ref="extension: BPE tokenizer INFERENCE — the encoded word "
    "vocabulary after the trained merges (word, freq, n_syms, encoded "
    "symbol sequence); sum(freq * n_syms) is the corpus token count "
    "under the tokenizer (the fertility/compression statistic)",
    tags=("llm", "text", "tokenizer", "iterative"),
)
def llm_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bpe_mod.bpe_encode(_docs(spark, sf_dir), "text", n_merges=_BPE_MERGES)


@register(
    "llm_bpe_apply",
    oracle=bpe_mod.bpe_apply_oracle_sql(_BPE_MERGES),
    survey_ref="extension: BPE encode with a SHIPPED merge table on a "
    "HELD-OUT corpus — train once on the even-doc_id split, apply the "
    "merge artifact (no counting, no argmax) to the odd-doc_id split; "
    "OOV symbols fall back to characters by construction (Sennrich et "
    "al. 2016 open-vocabulary property). The merge table is the "
    "config-table shape of the reference's routing rules "
    "(function/TableProcessFunction.java:62-80): a small precomputed "
    "table the data flows through. r8: the artifact now ROUND-TRIPS "
    "through a DimStore (train -> save_merges -> load_merges -> apply) "
    "so the shipped-artifact path itself is driver-checked — bench "
    "note: this adds one n_merges-row store upsert+read to the r7 "
    "timing (bounded, not corpus-sized)",
    tags=("llm", "text", "tokenizer", "iterative"),
    bench=True,
)
def llm_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ..sources.dim_store import DimStore

    docs = _docs(spark, sf_dir)
    stage = tempfile.mkdtemp(prefix="gmall_bpe_store_")
    try:
        merges = bpe_mod.bpe_train(
            docs.filter(F.col("doc_id") % 2 == 0), "text", n_merges=_BPE_MERGES
        )
        # ship the artifact: the TRAINING job persists the merge table,
        # the INFERENCE job reads it back — no retraining in the apply
        # path (the half of the story r7 left unit-test-only)
        store = DimStore(spark, stage)
        bpe_mod.save_merges(store, merges)
        shipped = bpe_mod.load_merges(store)
        return bpe_mod.bpe_apply(
            docs.filter(F.col("doc_id") % 2 == 1), shipped, "text"
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(stage, ignore_errors=True)


# -------------------------------------------- full curation pipeline (v2)
_TOKS_CT = TOKS.replace("lower(text)", "lower(ctext)")
def _curate_full_ctes(corpus_sql: str) -> str:
    """The curate_full oracle CTE chain over a provided ``corpus`` CTE —
    parameterized so the full raw-to-shards chain can front stage-1
    (URL dedup + domain cap) before the content stages."""
    return f"""{corpus_sql},
    tk AS (SELECT doc_id, {TOKS} AS toks FROM corpus),
    seg AS (
        SELECT doc_id, i AS pos,
               array_to_string(
                   list_slice(toks, i*{_PARA_W}+1, i*{_PARA_W}+{_PARA_W}),
                   ' ') AS seg
        FROM tk, UNNEST(generate_series(
                 0, CAST(ceil(len(toks)/{_PARA_W}.0) AS INT) - 1)) AS t(i)
        WHERE len(toks) > 0
    ),
    hs AS (SELECT doc_id, pos, seg, md5(seg) AS h FROM seg),
    st AS (SELECT h, COUNT(DISTINCT doc_id) AS n_docs,
                  MIN(struct_pack(d := doc_id, p := pos)) AS first
           FROM hs GROUP BY h),
    mk AS (SELECT hs.doc_id, hs.pos, hs.seg,
                  (st.n_docs <= 1 OR (hs.doc_id = (st.first).d
                                      AND hs.pos = (st.first).p)) AS keep
           FROM hs JOIN st USING (h)),
    cleaned AS (
        SELECT doc_id AS id,
               COALESCE(string_agg(CASE WHEN keep THEN seg END, ' '
                                   ORDER BY pos), '') AS ctext
        FROM mk GROUP BY doc_id
    ),
    nz AS (SELECT id, ctext FROM cleaned WHERE ctext <> ''),
    tk2 AS (SELECT id, ctext, {_TOKS_CT} AS toks FROM nz),
    feat AS (
        SELECT id, ctext, len(toks) AS n,
               CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
                 / CAST(len(toks) AS DOUBLE) AS mean_len,
               CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-z]')))
                 AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS alpha_frac,
               len(list_filter(toks, t -> list_contains(
                   ['the','a','of','and','is','to','in'], t))) AS n_stop
        FROM tk2
    ),
    q AS (
        SELECT id, ctext FROM feat
        WHERE (n > 0 AND n BETWEEN 20 AND 100000)
          AND COALESCE(n > 0 AND mean_len BETWEEN 3.0 AND 10.0, FALSE)
          AND COALESCE(n > 0 AND alpha_frac >= 0.8, FALSE)
          AND (n > 0 AND n_stop >= 2)
    ),
    ex AS (SELECT MIN(id) AS id FROM q GROUP BY md5(ctext)),
    e AS (SELECT q.id, q.ctext FROM q JOIN ex USING (id)),
    tk3 AS (SELECT id AS doc_id, {_TOKS_CT} AS toks FROM e),
    sh AS (
        SELECT DISTINCT doc_id,
               toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
        FROM tk3, UNNEST(generate_series(1, len(toks) - 2)) AS t(i)
        WHERE len(toks) >= 3
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    sig AS (
        SELECT doc_id,
           {_MH_COLS}
        FROM sh GROUP BY doc_id
    ),
    bk AS (
        SELECT DISTINCT doc_id, bucket
        FROM (SELECT doc_id, UNNEST([{_BANDS_SQL}]) AS bucket FROM sig)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
    ),
    common AS (
        SELECT c.id_a, c.id_b, COUNT(*) AS common
        FROM cand c
        JOIN sh a ON a.doc_id = c.id_a
        JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
        GROUP BY c.id_a, c.id_b
    ),
    prs AS (
        SELECT id_a, id_b
        FROM common
        JOIN sizes sa ON id_a = sa.doc_id
        JOIN sizes sb ON id_b = sb.doc_id
        WHERE CAST(common AS DOUBLE) / CAST(sa.n + sb.n - common AS DOUBLE) >= 0.4
    ),
    dropn AS (SELECT DISTINCT id_b AS id FROM prs),
    d AS (SELECT e.id, e.ctext FROM e
          WHERE NOT EXISTS (SELECT 1 FROM dropn WHERE dropn.id = e.id)),
    btk AS (SELECT {TOKS} AS toks FROM documents WHERE doc_id % 13 = 0),
    bsh AS (
        SELECT DISTINCT array_to_string(list_slice(toks, i, i + 5), ' ') AS shingle
        FROM btk, UNNEST(generate_series(1, len(toks) - 5)) AS t(i)
        WHERE len(toks) >= 6
    ),
    dtk AS (SELECT id, {_TOKS_CT} AS toks FROM d),
    dsh AS (
        SELECT id, array_to_string(list_slice(toks, i, i + 5), ' ') AS shingle
        FROM dtk, UNNEST(generate_series(1, len(toks) - 5)) AS t(i)
        WHERE len(toks) >= 6
    ),
    contam AS (SELECT DISTINCT ds.id FROM dsh ds
               JOIN bsh ON ds.shingle = bsh.shingle),
    surv AS (SELECT d.id, d.ctext FROM d
             WHERE NOT EXISTS (SELECT 1 FROM contam WHERE contam.id = d.id))
"""


_CURATE_FULL_CTES = _curate_full_ctes(_PARA_CORPUS_SQL)

_CURATE_FULL_ORACLE = f"""
    WITH {_CURATE_FULL_CTES}
    SELECT id, ctext AS clean_text FROM surv
"""


@register(
    "llm_curation_pipeline_full",
    oracle=_CURATE_FULL_ORACLE,
    survey_ref="extension FLAGSHIP: the full modern curation pipeline in "
    "one lazy plan — paragraph-hash dedup (planted corpus) -> Gopher "
    "rules on the REWRITTEN text -> exact dedup -> MinHash near-dup "
    "min-keep -> benchmark decontamination; end-to-end oracle replays "
    "every stage on the chained text",
    tags=("llm", "pipeline"),
    bench=True,
)
def llm_curation_pipeline_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.curation import curate_full

    docs = _para_corpus(spark, sf_dir)
    bench = _docs(spark, sf_dir).filter(F.col("doc_id") % 13 == 0).select(
        "doc_id", "text"
    )
    return curate_full(docs, bench, "doc_id", "text", window=_PARA_W)


_SHARD_RATES_SQL = (
    f"CASE lang WHEN 'en' THEN {int(0.5 * (1 << 32))} "
    f"WHEN 'zh' THEN {1 << 32} ELSE {int(0.2 * (1 << 32))} END"
)


@register(
    "llm_training_shards",
    # end-to-end replay, every stage on the chained text (the
    # llm_curation_ccnet discipline extended to the training artifact):
    # curate_full CTEs -> lang join (missing metadata -> default rate)
    # -> mixture Bernoulli -> shard-local packing windows -> TeraSort
    # shuffle rank over the packed rows.
    oracle=f"""
    WITH {_CURATE_FULL_CTES},
    lng AS (SELECT surv.id, surv.ctext,
                   COALESCE(doc.lang, 'unknown') AS lang
            FROM surv LEFT JOIN documents doc ON doc.doc_id = surv.id),
    samp AS (SELECT id, ctext, lang FROM lng
             WHERE {_u32_sql("id")} < {_SHARD_RATES_SQL}),
    ptk AS (SELECT id, lang, id % 8 AS shard,
                   len({_TOKS_CT}) AS n_tokens
            FROM samp),
    pnz AS (SELECT * FROM ptk WHERE n_tokens > 0),
    pack AS (SELECT id, lang, CAST(shard AS BIGINT) AS shard,
        CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 512
             AS BIGINT) AS seq_id,
        CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS tok_offset,
        CAST(n_tokens AS BIGINT) AS n_tokens
        FROM pnz)
    SELECT id, shard, seq_id, tok_offset, n_tokens, lang,
           ROW_NUMBER() OVER (
               ORDER BY {_u32_sql("'shuffle|' || CAST(id AS VARCHAR)")},
                        id) AS shuffle_rank
    FROM pack
    """,
    survey_ref="extension FLAGSHIP #2: the composed training-shard "
    "export — curate_full -> decontaminate -> language-mixture sample "
    "-> sequence_pack -> shuffle_order -> shard-partitioned write, one "
    "lazy plan, corpus scanned once; the entry round-trips the manifest "
    "through a shard-partitioned parquet layout (the artifact a "
    "training run consumes). Stage attrition at sf0.01 on the planted "
    "corpus: 600 raw -> 336 curated+decontaminated -> 161 after the "
    "mixture gate; packed rows = the non-empty 161",
    tags=("llm", "pipeline", "layout"),
    # In the bench set since r15 (r14 VERDICT ask #4: the heaviest
    # composed pipeline deserves round-over-round tracking, not just
    # sweep walls). Caveat kept from the pre-r15 exclusion: ~90% of its
    # cost is curate_full, which the bench also times as
    # llm_curation_pipeline_full — the HEADLINE TOTAL double-counts
    # that stage; per-query ratios are the signal, as always.
    bench=True,
)
def llm_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from ..llm.curation import training_shards
    from ..sources.io import scratch_dir

    docs = _para_corpus(spark, sf_dir)
    bench = _docs(spark, sf_dir).filter(F.col("doc_id") % 13 == 0).select(
        "doc_id", "text"
    )
    lang_df = _docs(spark, sf_dir).select("doc_id", "lang")
    manifest = training_shards(docs, bench, lang_df, "doc_id", "text",
                               window=_PARA_W)
    # executors write the shard layout here: driver-local tempdir in
    # local mode, SPARK_GRAFT_SCRATCH (shared URI) on a cluster
    stage = scratch_dir("gmall_shards_")
    try:
        # the consumer layout: one directory per shard, so a trainer
        # reading shard k is a partition-pruned scan
        manifest.write.mode("overwrite").partitionBy("shard").parquet(stage)
        back = spark.read.parquet(stage).select(
            "id",
            F.col("shard").cast("long").alias("shard"),
            "seq_id", "tok_offset", "n_tokens", "lang", "shuffle_rank",
        )
        return back.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(stage, ignore_errors=True)


@register(
    "llm_dedup_editdist",
    # corpus = the paragraph-planted near-dup corpus (exact copies ->
    # edit 0, prefix copies -> edit = tail length); candidates via the
    # 16-bit simhash shards, verification = exact levenshtein on both
    # engines (same classic DP, same integers). Structured as
    # ;-separated temp-table statements (the pagerank-oracle pattern,
    # r13): materializing the pruned candidate table before the DP lets
    # DuckDB run the levenshtein projection as a parallel scan instead
    # of a serial CTE pipeline — sf0.1 oracle wall 641.6 s -> ~150 s,
    # output identical. (The r12 VERDICT's suggested q-gram-bag bound
    # was measured first and does NOT prune here: the synthetic corpus
    # is word salad from a ~45-word vocabulary, so full-bigram bag L1
    # exceeds 4*d for only ~11% of candidates — and subset bigrams,
    # char bags and PassJoin segment pigeonholes for 0% — because the
    # true distance comes from word ORDER, which bag statistics cannot
    # see. The wall is the DP itself; parallelism is the lever.)
    oracle=f"""
    CREATE OR REPLACE TEMP TABLE ed_oracle_corpus AS
    WITH {_PARA_CORPUS_SQL}
    SELECT doc_id, text FROM corpus;
    CREATE OR REPLACE TEMP TABLE ed_oracle_pruned AS
    WITH tok AS (
        SELECT DISTINCT doc_id, UNNEST({TOKS}) AS token FROM ed_oracle_corpus
    ),
    hs AS (SELECT doc_id, md5(token) AS h FROM tok),
    votes AS (
        SELECT doc_id,
           {_VOTES}
        FROM hs GROUP BY doc_id
    ),
    sig AS (SELECT doc_id, concat({_SIG}) AS simhash FROM votes),
    parts AS (
        SELECT doc_id, simhash, UNNEST([
            'L' || substr(simhash, 1, {_SBITS // 2}),
            'R' || substr(simhash, {_SBITS // 2 + 1}, {_SBITS // 2})
        ]) AS bucket
        FROM sig
    ),
    -- dedup the two-slice double hits BEFORE the DP (edit_dist is
    -- functionally determined by the pair, so DISTINCT here == the old
    -- post-join DISTINCT), then pre-prune with two EXACT lower bounds:
    -- levenshtein >= |len_a - len_b|, and levenshtein >= L1/2 where L1
    -- is the character-bag distance over any char subset (each edit op
    -- moves the bag by at most 2; a subset only weakens the bound, so
    -- both prunes are value-preserving). DuckDB has no thresholded DP —
    -- without these the sf0.1 oracle pays the full O(len^2) on ~3M
    -- mostly-far-apart candidates and runs for ~an hour; with them the
    -- DP touches survivors-plus-near-misses
    cd AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM parts a
        JOIN parts b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
        WHERE {_HAMMING} <= 3
    ),
    freq AS (
        SELECT doc_id, length(text) AS ln,
               list_transform([{_BAG_CHARS}],
                              c -> length(text) - length(replace(text, c, ''))
               ) AS fv
        FROM ed_oracle_corpus
    )
    SELECT cd.id_a, cd.id_b
    FROM cd
    JOIN freq fa ON fa.doc_id = cd.id_a
    JOIN freq fb ON fb.doc_id = cd.id_b
    WHERE abs(fa.ln - fb.ln) <= {_ED_MAX}
      AND list_reduce(list_transform(list_zip(fa.fv, fb.fv),
                                     p -> abs(p[1] - p[2])),
                      (x, y) -> x + y) <= {2 * _ED_MAX};
    SELECT id_a, id_b, edit_dist FROM (
        SELECT id_a, id_b,
               CAST(levenshtein(ta.text, tb.text) AS BIGINT) AS edit_dist
        FROM ed_oracle_pruned p
        JOIN ed_oracle_corpus ta ON ta.doc_id = p.id_a
        JOIN ed_oracle_corpus tb ON tb.doc_id = p.id_b
    ) WHERE edit_dist <= {_ED_MAX}
    """,
    survey_ref="extension: edit-distance (Levenshtein) near-dup — the "
    "character-level dedup modality; simhash-blocked candidates, exact "
    "DP verification (llm/dedup.py edit_distance_pairs)",
    tags=("llm", "dedup"),
)
def llm_dedup_editdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.edit_distance_pairs(
        _para_corpus(spark, sf_dir), "doc_id", "text", max_dist=_ED_MAX
    )


# ---------------------------------------------- cross-split leakage audit
# (llm/sampling.py::split_leakage) — MinHash near-dup pairs that straddle
# the id-keyed train/val/test boundary, over the planted near-dup corpus
# so leakage provably exists. The oracle composes the verbatim minhash
# fragments over the planted-corpus CTE with the split CASE.
_SL_SPLIT = f"""CASE WHEN {{u}} < {_VAL_HI} THEN 'val'
                WHEN {{u}} < {_TEST_HI} THEN 'test'
                ELSE 'train' END"""


@register(
    "llm_split_leakage",
    oracle=f"""
    WITH {_PARA_CORPUS_SQL},
    {shingle_cte("corpus").lstrip()},
    sig AS (
        SELECT doc_id,
           {_MH_COLS}
        FROM sh GROUP BY doc_id
    ),
    bk AS (
        SELECT DISTINCT doc_id, bucket
        FROM (SELECT doc_id, UNNEST([{_BANDS_SQL}]) AS bucket FROM sig)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
    ),
    common AS (
        SELECT c.id_a, c.id_b, COUNT(*) AS common
        FROM cand c
        JOIN sh a ON a.doc_id = c.id_a
        JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
        GROUP BY c.id_a, c.id_b
    ),
    pairs AS (
        SELECT id_a, id_b,
               CAST(common AS DOUBLE) / CAST(sa.n + sb.n - common AS DOUBLE)
                 AS jaccard
        FROM common
        JOIN sizes sa ON id_a = sa.doc_id
        JOIN sizes sb ON id_b = sb.doc_id
        WHERE CAST(common AS DOUBLE) / CAST(sa.n + sb.n - common AS DOUBLE)
              >= 0.4
    ),
    lab AS (
        SELECT id_a, id_b, jaccard,
               {_SL_SPLIT.format(u=_u32_sql("id_a"))} AS split_a,
               {_SL_SPLIT.format(u=_u32_sql("id_b"))} AS split_b
        FROM pairs
    )
    SELECT id_a, id_b, jaccard, split_a, split_b
    FROM lab WHERE split_a <> split_b
    """,
    survey_ref="extension: cross-split leakage audit — near-dup pairs "
    "straddling the train/val/test boundary (the contamination an "
    "id-hash split cannot prevent); composition of the oracle-verified "
    "minhash and split operators",
    tags=("llm", "dedup", "sampling"),
)
def llm_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm import sampling

    return sampling.split_leakage(
        _para_corpus(spark, sf_dir), "doc_id", "text",
        val_fraction=0.1, test_fraction=0.1,
        n=3, num_hashes=_NH, bands=_BANDS, threshold=0.4,
    )


# ------------------------------------------------ inference length buckets
_LB_CASE = " ".join(
    f"WHEN n <= {c} THEN {c}" for c in (16, 32, 64, 128, 256, 512, 1024, 2048, 4096)
)


@register(
    "llm_length_buckets",
    oracle=f"""
    WITH tk AS (SELECT doc_id, len({TOKS}) AS n FROM documents),
    lab AS (SELECT doc_id, n,
                   CASE {_LB_CASE} ELSE -1 END AS bucket_len FROM tk)
    SELECT bucket_len,
           COUNT(*) AS n_docs,
           CAST(SUM(n) AS BIGINT) AS sum_tokens,
           CAST(CASE WHEN bucket_len > 0
                     THEN COUNT(*) * bucket_len - SUM(n) END AS BIGINT)
             AS pad_waste,
           CASE WHEN bucket_len > 0
                THEN CAST(SUM(n) AS DOUBLE)
                     / CAST(COUNT(*) * bucket_len AS DOUBLE) END AS fill_ratio
    FROM lab GROUP BY bucket_len
    """,
    survey_ref="extension: inference-batching length histogram — "
    "pad-to-power-of-two bucket assignment with per-bucket padding "
    "economics (pad_waste / fill_ratio drive bucket-set design for "
    "batched scoring); integer CASE chain, no float log2",
    tags=("llm", "packing"),
)
def llm_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.packing import length_buckets

    return length_buckets(_docs(spark, sf_dir), "doc_id", "text")


# ------------------------------------------- within-document repetition
# Planted corpus: every third document is truncated to a window-multiple
# and its first window re-appended, so in-document repeats provably
# exist and align to segment boundaries on both engines.
_WD_W = 20
_WD_CORPUS_SQL = f"""
    wcorpus AS (
        SELECT doc_id, text FROM documents
        WHERE doc_id % 3 <> 0 OR len({TOKS}) < {_WD_W}
        UNION ALL
        SELECT doc_id,
               array_to_string(list_slice({TOKS}, 1,
                   CAST(floor(len({TOKS}) / {_WD_W}) AS INT) * {_WD_W}), ' ')
               || ' ' ||
               array_to_string(list_slice({TOKS}, 1, {_WD_W}), ' ') AS text
        FROM documents
        WHERE doc_id % 3 = 0 AND len({TOKS}) >= {_WD_W}
    )"""


def _wd_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    toks = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda t: t != ""
    )
    n_full = (F.floor(F.size(toks) / _WD_W) * _WD_W).cast("int")
    planted = docs.filter(
        (F.col("doc_id") % 3 == 0) & (F.size(toks) >= _WD_W)
    ).select(
        "doc_id",
        F.concat(
            F.concat_ws(" ", F.slice(toks, 1, n_full)),
            F.lit(" "),
            F.concat_ws(" ", F.slice(toks, 1, _WD_W)),
        ).alias("text"),
    )
    rest = docs.filter((F.col("doc_id") % 3 != 0) | (F.size(toks) < _WD_W))
    return rest.unionByName(planted)


@register(
    "llm_dedup_within_doc",
    oracle=f"""
    WITH {_WD_CORPUS_SQL},
    tk AS (SELECT doc_id, {TOKS} AS toks FROM wcorpus),
    seg AS (
        SELECT doc_id, i AS pos,
               array_to_string(
                   list_slice(toks, i*{_WD_W}+1, i*{_WD_W}+{_WD_W}),
                   ' ') AS seg
        FROM tk, UNNEST(generate_series(
                 0, CAST(ceil(len(toks)/{_WD_W}.0) AS INT) - 1)) AS t(i)
        WHERE len(toks) > 0
    ),
    mk AS (SELECT doc_id, pos, seg,
                  ROW_NUMBER() OVER (PARTITION BY doc_id, md5(seg)
                                     ORDER BY pos) = 1 AS keep
           FROM seg)
    SELECT doc_id AS id,
           COUNT(*) AS n_segments,
           CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_removed,
           COALESCE(string_agg(CASE WHEN keep THEN seg END, ' '
                               ORDER BY pos), '') AS clean_text
    FROM mk GROUP BY doc_id
    """,
    survey_ref="extension: WITHIN-document repeated-segment removal — "
    "the in-document half of the CCNet line-hash cleanup (repeating "
    "boilerplate inside one page); keep-first per (doc, segment hash), "
    "embarrassingly document-parallel (no corpus-wide state)",
    tags=("llm", "dedup"),
)
def llm_dedup_within_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.within_doc_dedup(
        _wd_corpus(spark, sf_dir), "doc_id", "text", window=_WD_W
    )


# ----------------------------------------------------- corpus snapshot diff
@register(
    "llm_corpus_diff",
    oracle="""
    WITH olds AS (SELECT doc_id, md5(text) AS d FROM documents
                  WHERE doc_id % 5 <> 0),
    news AS (SELECT doc_id,
                    md5(CASE WHEN doc_id % 3 = 0
                             THEN text || ' [updated]' ELSE text END) AS d
             FROM documents WHERE doc_id % 7 <> 0)
    SELECT COALESCE(o.doc_id, n.doc_id) AS id,
           CASE WHEN o.doc_id IS NULL THEN 'added'
                WHEN n.doc_id IS NULL THEN 'removed'
                WHEN o.d IS NOT DISTINCT FROM n.d THEN 'unchanged'
                ELSE 'changed' END AS status
    FROM olds o FULL OUTER JOIN news n ON o.doc_id = n.doc_id
    """,
    survey_ref="extension: corpus snapshot diff (crawl-over-crawl "
    "reconciliation by content digest — added/removed/changed/unchanged; "
    "gates what re-enters the hygiene stack via incremental_dedup)",
    tags=("llm", "dedup", "incremental"),
)
def llm_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    olds = docs.filter(F.col("doc_id") % 5 != 0)
    news = docs.filter(F.col("doc_id") % 7 != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0, F.concat(F.col("text"), F.lit(" [updated]"))
        ).otherwise(F.col("text")).alias("text"),
    )
    return dedup.corpus_diff(olds, news, "doc_id", "text")


# -------------------------------- HLL register sketch: bounded-state UV
# The reference's UV problem (dwm/UniqueVisitApp.java:37-76) holds one
# ValueState PER DISTINCT mid — state grows with cardinality, the thing
# that breaks at 100 TB. The HLL register grid holds HLL_M longs per
# group no matter how many distinct users stream through; batch and
# streaming renderings settle to the identical register table because
# MAX commutes across shards/micro-batches.
_HLL_M = sketch_mod.HLL_M


def _hll_regs_sql() -> str:
    uid = "CAST(user_id AS VARCHAR)"
    b = _u32_sql(f"'hllb|' || {uid}")
    y = _u32_sql(f"'hllr|' || {uid}")
    return f"""
    h AS (SELECT event_type,
                 ({b}) % {_HLL_M} AS bucket,
                 ({y}) AS y
          FROM events),
    r AS (SELECT event_type, bucket,
                 MAX(CASE WHEN y = 0 THEN 33
                          ELSE 33 - length(bin(y)) END) AS rho
          FROM h GROUP BY event_type, bucket)"""


@register(
    "dws_uv_hll",
    oracle=f"""
    WITH {_hll_regs_sql()}
    SELECT event_type, bucket, CAST(rho AS BIGINT) AS rho FROM r
    """,
    survey_ref="extension: HyperLogLog register sketch (Flajolet et al. "
    "2007) for the A5/UV problem — dwm/UniqueVisitApp.java:37-76 keeps "
    "one keyed ValueState per distinct mid (state grows with user "
    f"cardinality); the register grid keeps {_HLL_M} longs per group "
    "for ANY cardinality. md5-derived bucket/rank make the table "
    "engine-exact; registers merge by MAX across shards/streams/days",
    tags=("llm", "sketch", "events"),
    bench=True,
)
def dws_uv_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    return sketch_mod.hll_registers(ev, "user_id", ["event_type"])


@register(
    "dws_uv_hll_estimate",
    oracle=f"""
    WITH {_hll_regs_sql()},
    g AS (SELECT DISTINCT event_type FROM events),
    grid AS (SELECT g.event_type, CAST(range AS BIGINT) AS bucket
             FROM g, range({_HLL_M})),
    dense AS (SELECT grid.event_type, grid.bucket, COALESCE(r.rho, 0) AS rho
              FROM grid LEFT JOIN r
                ON grid.event_type = r.event_type AND grid.bucket = r.bucket),
    agg AS (SELECT event_type,
                   CAST(SUM(CASE WHEN rho = 0 THEN 1 ELSE 0 END) AS BIGINT)
                     AS v_zero,
                   SUM(1.0 / CAST((1::BIGINT << rho) AS DOUBLE)) AS inv_sum
            FROM dense GROUP BY event_type),
    ex AS (SELECT event_type, COUNT(DISTINCT user_id) AS exact_uv
           FROM events GROUP BY event_type)
    SELECT a.event_type, a.v_zero,
           {sketch_mod.hll_alpha_m2()!r} / a.inv_sum AS raw_est,
           CAST(e.exact_uv AS BIGINT) AS exact_uv
    FROM agg a JOIN ex e ON a.event_type = e.event_type
    """,
    survey_ref="extension: the raw HLL estimate alpha_m*m^2/sum(2^-rho) "
    "next to the exact COUNT DISTINCT for auditability — engine-exact "
    "because every 2^-rho term is a power of two in [2^-33, 1] (all "
    "partial sums are integer multiples of 2^-33 below 2^41, so float "
    "addition is exact in any order) and the one division rounds "
    "identically; v_zero emitted for consumers wanting the "
    "linear-counting small-range correction (ln() stays out of the "
    "engines)",
    tags=("llm", "sketch", "events"),
)
def dws_uv_hll_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    regs = sketch_mod.hll_registers(ev, "user_id", ["event_type"])
    est = sketch_mod.hll_estimate(regs, ["event_type"])
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("exact_uv")
    )
    return est.join(exact, "event_type").select(
        "event_type", "v_zero", "raw_est", "exact_uv"
    )


# ----------------------- histogram sketch: bounded-state quantiles
# width 512 = 2^9 over 256 bins covers l_extendedprice (< 105k) with
# every value interior; power-of-two width keeps floor(v/width) exact
# in both engines (see llm/sketch.py module note).
_PHIST_W, _PHIST_BINS = 512, 256
_PHIST_QS = (0.5, 0.9, 0.99)


@register(
    "ads_price_quantile_sketch",
    oracle=f"""
    WITH h AS (SELECT LEAST(GREATEST(CAST(floor(l_extendedprice / {_PHIST_W}.0)
                                     AS BIGINT), 0), {_PHIST_BINS - 1}) AS bucket
               FROM lineitem WHERE l_extendedprice IS NOT NULL),
    hist AS (SELECT bucket, COUNT(*) AS cnt FROM h GROUP BY bucket),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM hist),
    cum AS (SELECT bucket, SUM(cnt) OVER (ORDER BY bucket) AS cum FROM hist),
    qs AS (SELECT UNNEST([0.5, 0.9, 0.99]) AS q),
    pick AS (SELECT q, n, MIN(bucket) AS bucket
             FROM qs, cum, tot WHERE cum >= ceil(q * n) GROUP BY q, n)
    SELECT q, bucket, CAST((bucket + 1) * {_PHIST_W} AS DOUBLE) AS est_hi, n
    FROM pick
    """,
    survey_ref="extension: bounded-state QUANTILES — a fixed 256-bin "
    "histogram (counts merge by SUM across shards) answers p50/p90/p99 "
    "with one-sided error <= one bucket width; completes the sketch "
    "family (frequency=CMS, distinct=HLL, quantile=histogram). "
    "Power-of-two width makes bucketing and rank arithmetic "
    "engine-exact; contrast ads_price_percentiles (exact/approx "
    "percentile over the full value shuffle) — this is the shape that "
    "runs on an unbounded stream or merges across 100 TB shards",
    tags=("llm", "sketch", "serving"),
    bench=True,
)
def ads_price_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    hist = sketch_mod.value_histogram(
        li, "l_extendedprice", width=_PHIST_W, n_bins=_PHIST_BINS
    )
    return sketch_mod.histogram_quantiles(hist, width=_PHIST_W, qs=_PHIST_QS)


_BPE_SAMPLE_THRESH = int(0.25 * (1 << 32))


@register(
    "llm_bpe_train_sampled",
    oracle=bpe_mod.bpe_apply_oracle_sql(
        _BPE_MERGES,
        train_where=f"{_u32_sql('doc_id')} < {_BPE_SAMPLE_THRESH}",
        apply_where="",
    ),
    survey_ref="extension: the 100 TB BPE posture made literal — train "
    "the merge table on a deterministic 25% hash sample (token "
    "statistics are corpus-level aggregates; a sample estimates them "
    "without the full-corpus iterative cost, the same sampled-training "
    "discipline as the IVF codebooks in llm/similarity.py), then apply "
    "the shipped artifact to the WHOLE corpus with no counting. The "
    "apply pass is the only full-corpus work and it is "
    "embarrassingly parallel per word",
    tags=("llm", "text", "tokenizer", "iterative", "sampling"),
)
def llm_bpe_train_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm import sampling

    docs = _docs(spark, sf_dir)
    merges = bpe_mod.bpe_train(
        sampling.hash_sample(docs, "doc_id", 0.25), "text",
        n_merges=_BPE_MERGES,
    )
    return bpe_mod.bpe_apply(docs, merges, "text")


# ------------------------- windowed HLL: the A1/A5 daily UV, bounded
# The reference computes daily UV with one keyed ValueState per mid
# (dwm/UniqueVisitApp.java:37-76, day-scoped TTL) and per-window
# HashSets (dws/VisitorStatsApp.java) — state grows with user
# cardinality. Here each (day, event_type) window carries HLL_M
# registers, period: the per-window state is a CONSTANT.


def _hll_daily_sql() -> str:
    uid = "CAST(user_id AS VARCHAR)"
    b = _u32_sql(f"'hllb|' || {uid}")
    y = _u32_sql(f"'hllr|' || {uid}")
    return f"""
    e AS (SELECT strftime(ts, '%Y-%m-%d') AS dt, event_type, user_id
          FROM events),
    h AS (SELECT dt, event_type,
                 ({b}) % {_HLL_M} AS bucket,
                 ({y}) AS y
          FROM e),
    r AS (SELECT dt, event_type, bucket,
                 MAX(CASE WHEN y = 0 THEN 33
                          ELSE 33 - length(bin(y)) END) AS rho
          FROM h GROUP BY dt, event_type, bucket)"""


def _daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "events").select(
        F.date_format("ts", "yyyy-MM-dd").alias("dt"), "event_type", "user_id"
    )


@register(
    "dws_daily_uv_hll",
    oracle=f"""
    WITH {_hll_daily_sql()}
    SELECT dt, event_type, bucket, CAST(rho AS BIGINT) AS rho FROM r
    """,
    survey_ref="§2.4 A1/A5 at scale: the daily-UV register table — "
    "per-(day, event_type) window state is a CONSTANT "
    f"{_HLL_M} registers instead of dwm/UniqueVisitApp.java:37-76's "
    "per-mid ValueState / dws/VisitorStatsApp.java's per-window "
    "HashSet; windows roll forward, state per window never grows",
    tags=("llm", "sketch", "events"),
)
def dws_daily_uv_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sketch_mod.hll_registers(
        _daily_events(spark, sf_dir), "user_id", ["dt", "event_type"]
    )


@register(
    "dws_daily_uv_hll_estimate",
    oracle=f"""
    WITH {_hll_daily_sql()},
    g AS (SELECT DISTINCT dt, event_type FROM e),
    grid AS (SELECT g.dt, g.event_type, CAST(range AS BIGINT) AS bucket
             FROM g, range({_HLL_M})),
    dense AS (SELECT grid.dt, grid.event_type, grid.bucket,
                     COALESCE(r.rho, 0) AS rho
              FROM grid LEFT JOIN r
                ON grid.dt = r.dt AND grid.event_type = r.event_type
               AND grid.bucket = r.bucket),
    agg AS (SELECT dt, event_type,
                   CAST(SUM(CASE WHEN rho = 0 THEN 1 ELSE 0 END) AS BIGINT)
                     AS v_zero,
                   SUM(1.0 / CAST((1::BIGINT << rho) AS DOUBLE)) AS inv_sum
            FROM dense GROUP BY dt, event_type),
    ex AS (SELECT dt, event_type, COUNT(DISTINCT user_id) AS exact_uv
           FROM e GROUP BY dt, event_type)
    SELECT a.dt, a.event_type, a.v_zero,
           {sketch_mod.hll_alpha_m2()!r} / a.inv_sum AS raw_est,
           CAST(e2.exact_uv AS BIGINT) AS exact_uv
    FROM agg a JOIN ex e2
      ON a.dt = e2.dt AND a.event_type = e2.event_type
    """,
    survey_ref="§2.4 A1/A5 at scale: the VisitorStats uv_ct column "
    "sketch-estimated per (day, event_type) window with the exact "
    "count alongside for audit — the engine-exact raw estimate plus "
    "v_zero (see dws_uv_hll_estimate for the float-exactness argument)",
    tags=("llm", "sketch", "events"),
)
def dws_daily_uv_hll_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _daily_events(spark, sf_dir)
    regs = sketch_mod.hll_registers(ev, "user_id", ["dt", "event_type"])
    est = sketch_mod.hll_estimate(regs, ["dt", "event_type"])
    exact = ev.groupBy("dt", "event_type").agg(
        F.countDistinct("user_id").cast("long").alias("exact_uv")
    )
    return est.join(exact, ["dt", "event_type"]).select(
        "dt", "event_type", "v_zero", "raw_est", "exact_uv"
    )


@register(
    "ads_brand_price_quantiles",
    oracle=f"""
    WITH j AS (SELECT p.p_brand, l.l_extendedprice AS v
               FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
               WHERE l.l_extendedprice IS NOT NULL),
    h AS (SELECT p_brand,
                 LEAST(GREATEST(CAST(floor(v / {_PHIST_W}.0) AS BIGINT), 0),
                       {_PHIST_BINS - 1}) AS bucket
          FROM j),
    hist AS (SELECT p_brand, bucket, COUNT(*) AS cnt
             FROM h GROUP BY p_brand, bucket),
    cum AS (SELECT p_brand, bucket,
                   SUM(cnt) OVER (PARTITION BY p_brand ORDER BY bucket) AS cum,
                   CAST(SUM(cnt) OVER (PARTITION BY p_brand) AS BIGINT) AS n
            FROM hist),
    qs AS (SELECT UNNEST([0.5, 0.9, 0.99]) AS q),
    pick AS (SELECT p_brand, q, n, MIN(bucket) AS bucket
             FROM qs, cum WHERE cum >= ceil(q * n) GROUP BY p_brand, q, n)
    SELECT p_brand, q, bucket,
           CAST((bucket + 1) * {_PHIST_W} AS DOUBLE) AS est_hi, n
    FROM pick
    """,
    survey_ref="extension: GROUPED quantile sketch — per-brand price "
    "p50/p90/p99 from per-group histograms (broadcast dim join feeds "
    "the grid; the quantile window shuffles only the grid-sized "
    "histogram on the group key, never the fact rows); the serving-"
    "layer rendering of the §2.8 aggregations with bounded per-group "
    "state",
    tags=("llm", "sketch", "serving"),
)
def ads_brand_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    pt = read_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    j = li.join(F.broadcast(pt), li["l_partkey"] == pt["p_partkey"]).select(
        "p_brand", "l_extendedprice"
    )
    hist = sketch_mod.value_histogram(
        j, "l_extendedprice", width=_PHIST_W, n_bins=_PHIST_BINS,
        group_cols=["p_brand"],
    )
    return sketch_mod.histogram_quantiles(
        hist, width=_PHIST_W, qs=_PHIST_QS, group_cols=["p_brand"]
    )


@register(
    "llm_contamination_report",
    oracle=f"""
    WITH {SHINGLE_CTE},
    b AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0),
    tr AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 50 <> 0),
    agg AS (
        SELECT tr.doc_id AS id, COUNT(*) AS n_shingles,
               CAST(SUM(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_contaminated
        FROM tr LEFT JOIN b ON tr.shingle = b.shingle
        GROUP BY tr.doc_id
    )
    SELECT id, n_shingles, n_contaminated,
           CAST(n_contaminated AS DOUBLE) / CAST(n_shingles AS DOUBLE)
               AS contamination_frac
    FROM agg
    """,
    survey_ref="extension: per-document contamination accounting (the "
    "overlap-percentage report of the GPT-3 appendix; contaminated_ids "
    "is its thresholded form) — benchmark shingles broadcast into an "
    "aggregate probe, frac = one exact-integer division",
    tags=("llm", "decontam"),
)
def llm_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm import decontam

    d = _docs(spark, sf_dir)
    bench = d.filter(F.col("doc_id") % 50 == 0)
    train = d.filter(F.col("doc_id") % 50 != 0)
    return decontam.contamination_report(train, bench, "doc_id", "text", n=3)


# -------------------------------------------------- CCNet pipeline composed
def _toks_sql(col: str) -> str:
    return TOKS.replace("lower(text)", f"lower({col})")


_CCNET_T = 1280  # 5.0 bits/token in q256 units — splits the corpus ~60/40


@register(
    "llm_curation_ccnet",
    oracle=f"""
    WITH {_PARA_CORPUS_SQL},
    tk AS (SELECT doc_id, {TOKS} AS toks FROM corpus),
    seg AS (
        SELECT doc_id, i AS pos,
               array_to_string(
                   list_slice(toks, i*{_PARA_W}+1, i*{_PARA_W}+{_PARA_W}),
                   ' ') AS seg
        FROM tk, UNNEST(generate_series(
                 0, CAST(ceil(len(toks)/{_PARA_W}.0) AS INT) - 1)) AS t(i)
        WHERE len(toks) > 0
    ),
    hs AS (SELECT doc_id, pos, seg, md5(seg) AS h FROM seg),
    st AS (SELECT h, COUNT(DISTINCT doc_id) AS n_docs,
                  MIN(struct_pack(d := doc_id, p := pos)) AS first
           FROM hs GROUP BY h),
    mk AS (SELECT hs.doc_id, hs.pos, hs.seg,
                  (st.n_docs <= 1 OR (hs.doc_id = (st.first).d
                                      AND hs.pos = (st.first).p)) AS keep
           FROM hs JOIN st USING (h)),
    cleaned AS (
        SELECT doc_id AS id,
               COALESCE(string_agg(CASE WHEN keep THEN seg END, ' '
                                   ORDER BY pos), '') AS ctext
        FROM mk GROUP BY doc_id
        HAVING COALESCE(string_agg(CASE WHEN keep THEN seg END, ' '
                                   ORDER BY pos), '') <> ''
    ),
    rtk AS (SELECT {TOKS} AS toks FROM documents WHERE doc_id % 5 = 0),
    rbg AS (SELECT toks[i] AS w1, toks[i+1] AS w2
            FROM rtk, UNNEST(generate_series(1, len(toks) - 1)) AS g(i)
            WHERE len(toks) >= 2),
    c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM rbg GROUP BY w1, w2),
    c1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM c12 GROUP BY w1),
    vv AS (SELECT COUNT(DISTINCT t) AS v
           FROM (SELECT UNNEST(toks) AS t FROM rtk)),
    stk AS (SELECT id, {_toks_sql("ctext")} AS toks FROM cleaned),
    sbg AS (SELECT id, toks[i] AS w1, toks[i+1] AS w2
            FROM stk, UNNEST(generate_series(1, len(toks) - 1)) AS g(i)
            WHERE len(toks) >= 2),
    cost AS (
        SELECT id,
               {_qlog2_sql(_LM_C1)} - {_qlog2_sql(_LM_C12)} AS cost
        FROM sbg
        LEFT JOIN c12 ON sbg.w1 = c12.w1 AND sbg.w2 = c12.w2
        LEFT JOIN c1 ON sbg.w1 = c1.w1
        CROSS JOIN vv),
    fluent AS (
        SELECT id FROM cost GROUP BY id
        HAVING SUM(cost) <= {_CCNET_T} * COUNT(*)
    ),
    fl AS (SELECT cleaned.id, cleaned.ctext FROM cleaned
           JOIN fluent ON cleaned.id = fluent.id),
    ke AS (SELECT MIN(id) AS id FROM fl GROUP BY md5(ctext))
    SELECT fl.id, fl.ctext AS clean_text
    FROM fl JOIN ke ON fl.id = ke.id
    """,
    survey_ref="extension: the CCNet pipeline (Wenzek et al. 2020) in "
    "its published stage order — paragraph-hash dedup -> bigram-LM "
    "perplexity gate (integer-quantized bits-per-token threshold, "
    "engine-exact) -> exact dedup — composed as ONE lazy plan with the "
    "end-to-end oracle replaying every stage on the rewritten text",
    tags=("llm", "curation", "quality", "dedup"),
    bench=True,
)
def llm_curation_ccnet(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm import curation

    ref = _docs(spark, sf_dir).filter(F.col("doc_id") % 5 == 0).select(
        "doc_id", "text"
    )
    return curation.curate_ccnet(
        _para_corpus(spark, sf_dir), ref, "doc_id", "text",
        window=_PARA_W, max_bits_q256=_CCNET_T,
    )


def _kcore_unroll_sql(rounds: int, k: int) -> str:
    """Unrolled peel rounds over e0 (the pagerank-oracle move: a fixed
    number of CTE iterations; extra rounds past the fixpoint are
    no-ops, and the Spark side raises if it needs more than its
    max_rounds, so equality cannot silently truncate)."""
    parts = []
    for i in range(1, rounds + 1):
        parts.append(f"""
    d{i} AS MATERIALIZED (SELECT id, COUNT(*) AS deg FROM (
             SELECT a AS id FROM e{i-1} UNION ALL SELECT b FROM e{i-1})
             GROUP BY id),
    k{i} AS MATERIALIZED (SELECT id FROM d{i} WHERE deg >= {k}),
    e{i} AS MATERIALIZED (SELECT e.a, e.b FROM e{i-1} e
             JOIN k{i} ka ON e.a = ka.id
             JOIN k{i} kb ON e.b = kb.id)""")
    return ",".join(parts)


@register(
    "llm_dup_graph_kcore",
    oracle=f"""
    WITH {_TRI_CORPUS_SQL},
    {shingle_cte("corpus")},
    pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
        FROM sh a
        JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    e0 AS MATERIALIZED (
        SELECT id_a AS a, id_b AS b
        FROM pairs
        JOIN sizes sa ON id_a = sa.doc_id
        JOIN sizes sb ON id_b = sb.doc_id
        WHERE 100 * common >= 50 * (sa.n + sb.n - common)
    ),
    {_kcore_unroll_sql(4, 2)}
    SELECT id, COUNT(*) AS deg FROM (
        SELECT a AS id FROM e4 UNION ALL SELECT b FROM e4)
    GROUP BY id
    """,
    survey_ref="extension: k-core decomposition of the near-dup graph "
    "(iterative peel, one degree aggregate + semi-join pair per round, "
    "lineage-checkpointed like pagerank) — the cohesion diagnostic "
    "separating cycle-held dup clusters from fragile transitive chains; "
    "oracle = 4 unrolled peel rounds (idempotent past the fixpoint)",
    tags=("llm", "dedup", "graph"),
)
def llm_dup_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm import graph

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    c1 = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    c2 = docs.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 300000).alias("doc_id"), "text"
    )
    corpus = docs.unionByName(c1).unionByName(c2)
    pairs = dedup.prefix_jaccard_pairs(
        corpus, "doc_id", "text", n=3, threshold_pct=50
    )
    return graph.k_core(pairs.select("id_a", "id_b"), k=2, max_rounds=4)


_PPL_HEAD, _PPL_TAIL = 1250, 1285  # q256 bits/token cuts (~p25 / ~p75)


@register(
    "llm_lm_ppl_buckets",
    # CCNet's head/middle/tail split: documents bucketed by LM
    # bits-per-token (head = most fluent). The cut is the integer
    # comparison cost_q256 <=> T * n_bigrams — no float ever decides a
    # bucket, so the split is engine-exact and usable directly as a
    # mixture knob for sampling.
    oracle=f"""
    WITH dtk AS (SELECT doc_id, COALESCE({TOKS}, CAST([] AS VARCHAR[])) AS toks
                 FROM documents),
    rbg AS (SELECT toks[i] AS w1, toks[i+1] AS w2
            FROM dtk, UNNEST(generate_series(1, len(toks) - 1)) AS g(i)
            WHERE doc_id % 5 = 0 AND len(toks) >= 2),
    c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM rbg GROUP BY w1, w2),
    c1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM c12 GROUP BY w1),
    vv AS (SELECT COUNT(DISTINCT t) AS v
           FROM (SELECT UNNEST(toks) AS t FROM dtk WHERE doc_id % 5 = 0)),
    sbg AS (SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2
            FROM dtk, UNNEST(generate_series(1, len(toks) - 1)) AS g(i)
            WHERE doc_id % 5 <> 0 AND len(toks) >= 2),
    cost AS (
        SELECT doc_id,
               {_qlog2_sql(_LM_C1)} - {_qlog2_sql(_LM_C12)} AS cost
        FROM sbg
        LEFT JOIN c12 ON sbg.w1 = c12.w1 AND sbg.w2 = c12.w2
        LEFT JOIN c1 ON sbg.w1 = c1.w1
        CROSS JOIN vv),
    agg AS (SELECT doc_id AS id, COUNT(*) AS n, CAST(SUM(cost) AS BIGINT) AS c
            FROM cost GROUP BY doc_id)
    SELECT id,
           CASE WHEN c <= {_PPL_HEAD} * n THEN 'head'
                WHEN c <= {_PPL_TAIL} * n THEN 'middle'
                ELSE 'tail' END AS ppl_bucket
    FROM agg
    """,
    survey_ref="extension: CCNet head/middle/tail perplexity buckets — "
    "the integer-exact form of the paper's tertile split, the mixture "
    "knob its pipeline feeds to sampling",
    tags=("llm", "text", "quality", "sampling"),
)
def llm_lm_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm import lm

    d = _docs(spark, sf_dir)
    ppl = lm.lm_perplexity(
        d.filter(F.col("doc_id") % 5 != 0),
        d.filter(F.col("doc_id") % 5 == 0),
        "doc_id",
        "text",
    )
    return ppl.select(
        "id",
        F.when(
            F.col("cost_q256") <= _PPL_HEAD * F.col("n_bigrams"), "head"
        )
        .when(F.col("cost_q256") <= _PPL_TAIL * F.col("n_bigrams"), "middle")
        .otherwise("tail")
        .alias("ppl_bucket"),
    )


@register(
    "llm_dup_cluster_audit",
    # The cluster-quality serving view: per node, triangle participation
    # and k-core membership JOINED over ONE shared candidate-pair
    # materialization (the pair table is the expensive part; both
    # diagnostics read the same localCheckpoint). A dup cluster whose
    # members carry triangles and survive the 2-core is structurally
    # solid; chain-only members are template drift.
    oracle=f"""
    WITH {_TRI_CORPUS_SQL},
    {shingle_cte("corpus")},
    pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
        FROM sh a
        JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    e0 AS MATERIALIZED (
        SELECT id_a AS a, id_b AS b
        FROM pairs
        JOIN sizes sa ON id_a = sa.doc_id
        JOIN sizes sb ON id_b = sb.doc_id
        WHERE 100 * common >= 50 * (sa.n + sb.n - common)
    ),
    tr AS MATERIALIZED (
        SELECT e1.a AS u, e1.b AS v, e2.b AS w
        FROM e0 e1
        JOIN e0 e2 ON e2.a = e1.b
        JOIN e0 e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    tcnt AS (SELECT id, COUNT(*) AS n_triangles FROM (
             SELECT u AS id FROM tr UNION ALL SELECT v FROM tr
             UNION ALL SELECT w FROM tr) GROUP BY id),
    {_kcore_unroll_sql(4, 2)},
    core AS (SELECT id, COUNT(*) AS core_deg FROM (
             SELECT a AS id FROM e4 UNION ALL SELECT b FROM e4)
             GROUP BY id),
    nodes AS (SELECT a AS id FROM e0 UNION SELECT b FROM e0)
    SELECT n.id,
           CAST(COALESCE(t.n_triangles, 0) AS BIGINT) AS n_triangles,
           CAST(COALESCE(c.core_deg, 0) AS BIGINT) AS core_deg,
           c.id IS NOT NULL AS in_2core
    FROM nodes n
    LEFT JOIN tcnt t ON n.id = t.id
    LEFT JOIN core c ON n.id = c.id
    """,
    survey_ref="extension: cluster-quality audit — triangle counts and "
    "2-core membership per dup-graph node, both diagnostics reading ONE "
    "shared pair materialization (candidate generation is the dominant "
    "cost; the audit adds two cheap graph passes, not a second corpus "
    "scan)",
    tags=("llm", "dedup", "graph", "serving"),
)
def llm_dup_cluster_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm import graph

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    c1 = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    c2 = docs.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 300000).alias("doc_id"), "text"
    )
    corpus = docs.unionByName(c1).unionByName(c2)
    pairs = (
        dedup.prefix_jaccard_pairs(corpus, "doc_id", "text", n=3,
                                   threshold_pct=50)
        .select("id_a", "id_b")
        .localCheckpoint(eager=True)  # ONE candidate generation, two readers
    )
    tri = graph.triangle_counts(pairs)
    core = graph.k_core(pairs, k=2, max_rounds=4).withColumnRenamed(
        "deg", "core_deg"
    )
    nodes = (
        pairs.select(F.col("id_a").alias("id"))
        .unionAll(pairs.select(F.col("id_b").alias("id")))
        .distinct()
    )
    return (
        nodes.join(tri, "id", "left")
        .join(core, "id", "left")
        .select(
            "id",
            F.coalesce("n_triangles", F.lit(0)).cast("long").alias("n_triangles"),
            F.coalesce("core_deg", F.lit(0)).cast("long").alias("core_deg"),
            F.col("core_deg").isNotNull().alias("in_2core"),
        )
    )


@register(
    "ads_price_winsorized",
    # Sketch-driven transform: the 256-bin histogram's p01/p99 bucket
    # upper edges clamp every price (winsorization — the robust-stats
    # outlier treatment), then per-flag exact totals of the clamped
    # cents. The clamp bounds are exact doubles ((bucket+1)*512), the
    # comparisons and totals pure integers after floor(x*100) — the
    # whole pipeline hash-checks including the clamped sums.
    oracle=f"""
    WITH h AS (SELECT LEAST(GREATEST(CAST(floor(l_extendedprice
                                           / {_PHIST_W}.0) AS BIGINT), 0),
                            {_PHIST_BINS - 1}) AS bucket
               FROM lineitem WHERE l_extendedprice IS NOT NULL),
    hist AS (SELECT bucket, COUNT(*) AS cnt FROM h GROUP BY bucket),
    cum AS (SELECT bucket,
                   SUM(cnt) OVER (ORDER BY bucket) AS cum,
                   CAST(SUM(cnt) OVER () AS BIGINT) AS n
            FROM hist),
    qs AS (SELECT UNNEST([0.01, 0.99]) AS q),
    pick AS (SELECT q, MIN(bucket) AS bucket
             FROM qs, cum WHERE cum >= ceil(q * n) GROUP BY q),
    bounds AS (SELECT
        MIN(CASE WHEN q = 0.01 THEN (bucket + 1) * {_PHIST_W} END) AS lo,
        MIN(CASE WHEN q = 0.99 THEN (bucket + 1) * {_PHIST_W} END) AS hi
      FROM pick),
    w AS (SELECT l_returnflag,
                 CAST(floor(LEAST(GREATEST(l_extendedprice, lo), hi) * 100)
                      AS BIGINT) AS wcents
          FROM lineitem CROSS JOIN bounds)
    SELECT l_returnflag, COUNT(*) AS n_rows,
           CAST(SUM(wcents) AS BIGINT) AS winsorized_cents
    FROM w GROUP BY l_returnflag
    """,
    survey_ref="extension: histogram-sketch-driven winsorization — the "
    "p01/p99 clamp bounds come from the bounded-state grid (broadcast "
    "as a two-value frame), prices clamp in a narrow map, and the "
    "per-flag totals are exact integers; the sketch-artifact-drives-a-"
    "transform pattern at fact-table scale",
    tags=("llm", "sketch", "ads"),
)
def ads_price_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    hist = sketch_mod.value_histogram(
        li, "l_extendedprice", width=_PHIST_W, n_bins=_PHIST_BINS
    )
    qt = sketch_mod.histogram_quantiles(
        hist, width=_PHIST_W, qs=(0.01, 0.99)
    )
    bounds = qt.agg(
        F.min(F.when(F.col("q") == 0.01, F.col("est_hi"))).alias("lo"),
        F.min(F.when(F.col("q") == 0.99, F.col("est_hi"))).alias("hi"),
    )
    w = li.crossJoin(F.broadcast(bounds)).select(
        "l_returnflag",
        F.floor(
            F.least(F.greatest(F.col("l_extendedprice"), F.col("lo")),
                    F.col("hi")) * 100
        ).cast("long").alias("wcents"),
    )
    return w.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("wcents").cast("long").alias("winsorized_cents"),
    )


# ------------------------------------------------- URL/domain stage-1 ops
# (r9, VERDICT r8 ask #2.) Real pipelines (CCNet, RefinedWeb/FineWeb)
# dedup by URL and balance by registrable domain BEFORE any content
# pass. The documents table has no URL column, so both engines derive
# the SAME deterministic URL per doc (the _embs_planted pattern): host
# case, trailing slash, and fragments vary by doc_id residue classes so
# normalization has real work to do, and .co.uk hosts exercise the
# public-suffix branch of registrable_domain.
_URL_SQL = """
    'https://'
    || (CASE WHEN doc_id % 11 = 0
             THEN upper((CASE WHEN doc_id % 2 = 0 THEN 'www.' ELSE '' END)
                  || 'site' || CAST(doc_id % 5 AS VARCHAR)
                  || (CASE WHEN doc_id % 3 = 0 THEN '.com'
                           WHEN doc_id % 3 = 1 THEN '.org'
                           ELSE '.co.uk' END))
             ELSE (CASE WHEN doc_id % 2 = 0 THEN 'www.' ELSE '' END)
                  || 'site' || CAST(doc_id % 5 AS VARCHAR)
                  || (CASE WHEN doc_id % 3 = 0 THEN '.com'
                           WHEN doc_id % 3 = 1 THEN '.org'
                           ELSE '.co.uk' END)
        END)
    || '/p/' || CAST(doc_id % 20 AS VARCHAR)
    || (CASE WHEN doc_id % 6 = 0 THEN '/' ELSE '' END)
    || (CASE WHEN doc_id % 4 = 0 THEN '#top' ELSE '' END)
"""

_URL_DOCS_CTE = f"udocs AS (SELECT doc_id, {_URL_SQL} AS url FROM documents)"

# oracle renderings of the urls.py expressions (same regex, same ops)
_HOST_SQL = "lower(regexp_extract(url, '://(?:[^/@]*@)?([^/#?:]+)', 1))"
_PS2_SQL = ", ".join(f"'{s}'" for s in urls_mod.TWO_LABEL_SUFFIXES)
_DOMAIN_SQL = f"""(
    CASE WHEN len(string_split(host, '.')) <= 2 THEN host
         WHEN array_to_string(string_split(host, '.')[-2:], '.')
                  IN ({_PS2_SQL})
              AND len(string_split(host, '.')) >= 3
         THEN array_to_string(string_split(host, '.')[-3:], '.')
         ELSE array_to_string(string_split(host, '.')[-2:], '.')
    END)"""
# the trailing-slash run strips only when no query string is present —
# with a '?' the run ends a query VALUE, not the path (r9 ADVICE; the
# Spark twin is urls.url_normalize's F.when on contains('?'))
_STRIP_SQL = """(
    CASE WHEN contains(split_part(url, '#', 1), '?')
         THEN split_part(url, '#', 1)
         ELSE regexp_replace(split_part(url, '#', 1), '/+$', '') END)"""
_NORM_SQL = f"""(
    lower(regexp_extract({_STRIP_SQL},
                         '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/#?]*)', 1))
    || substring({_STRIP_SQL},
                 length(regexp_extract(
                     {_STRIP_SQL},
                     '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/#?]*)', 1)) + 1))"""


def _with_url(d: DataFrame) -> DataFrame:
    """Spark rendering of _URL_SQL (identical string arithmetic) over any
    frame with a doc_id column — batch OR streaming (narrow map only)."""
    rid = F.col("doc_id")
    sub = F.when(rid % 2 == 0, F.lit("www.")).otherwise(F.lit(""))
    tld = (
        F.when(rid % 3 == 0, F.lit(".com"))
        .when(rid % 3 == 1, F.lit(".org"))
        .otherwise(F.lit(".co.uk"))
    )
    host = F.concat(sub, F.lit("site"), (rid % 5).cast("string"), tld)
    host = F.when(rid % 11 == 0, F.upper(host)).otherwise(host)
    url = F.concat(
        F.lit("https://"),
        host,
        F.lit("/p/"),
        (rid % 20).cast("string"),
        F.when(rid % 6 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(rid % 4 == 0, F.lit("#top")).otherwise(F.lit("")),
    )
    # "*" keeps any extra columns the caller carries (r11: the streaming
    # blocklist derives the url on a frame that already holds the Gopher
    # verdict — a second stream branch would be an illegal stream-stream
    # join); existing callers pass a bare doc_id projection, for which
    # this is identical to the old select("doc_id", url).
    # Fail fast on a frame that already carries 'url' — select("*", url)
    # would otherwise produce a silent duplicate column name that makes
    # every downstream F.col("url") ambiguous (r11 ADVICE).
    assert "url" not in d.columns, "_with_url: input already has a 'url' column"
    return d.select("*", url.alias("url"))


def _docs_with_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _with_url(_docs(spark, sf_dir))


@register(
    "llm_host_extract",
    oracle=f"""
    WITH {_URL_DOCS_CTE},
    h AS (SELECT doc_id, url, {_HOST_SQL} AS host FROM udocs)
    SELECT doc_id, url, host, {_DOMAIN_SQL} AS domain FROM h
    """,
    survey_ref="extension: URL stage-1 — host + registrable-domain "
    "extraction as pure JVM column expressions (regex + array slicing; "
    "no Python UDF, zero exchanges — plan-gated)",
    tags=("llm", "url", "text"),
)
def llm_host_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm import urls

    d = _docs_with_urls(spark, sf_dir)
    h = urls.host_of(F.col("url"))
    return d.select(
        "doc_id",
        "url",
        h.alias("host"),
        urls.registrable_domain(h).alias("domain"),
    )


@register(
    "llm_url_dedup",
    oracle=f"""
    WITH {_URL_DOCS_CTE}
    SELECT {_NORM_SQL} AS norm_url,
           MIN(doc_id) AS keep_id,
           COUNT(*) AS dup_ct
    FROM udocs GROUP BY 1
    """,
    survey_ref="extension: URL-exact dedup, keep-first by normalized "
    "URL (lowercased scheme://host, fragment and trailing slash "
    "stripped) — the CCNet/RefinedWeb stage-1 pass; llm_dedup_exact's "
    "one-aggregation shape keyed on the URL",
    tags=("llm", "url", "dedup"),
    bench=True,
)
def llm_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm import urls

    return urls.url_dedup(_docs_with_urls(spark, sf_dir), "doc_id", "url")


_DOMAIN_CAP = 20


@register(
    "llm_domain_mix",
    oracle=f"""
    WITH {_URL_DOCS_CTE},
    h AS (SELECT doc_id, {_HOST_SQL} AS host FROM udocs),
    dom AS (SELECT doc_id, {_DOMAIN_SQL} AS domain FROM h),
    counts AS (SELECT domain, COUNT(*) AS n_docs FROM dom GROUP BY domain),
    rates AS (SELECT domain, n_docs,
                     CAST(floor(LEAST(1.0,
                          {_DOMAIN_CAP} / CAST(n_docs AS DOUBLE))
                          * 4294967296.0) AS BIGINT) AS thresh_q32
              FROM counts)
    SELECT r.domain, r.n_docs, r.thresh_q32,
           CAST(SUM(CASE WHEN {_u32_sql("d.doc_id")}
                    < r.thresh_q32 THEN 1 ELSE 0 END) AS BIGINT) AS n_selected
    FROM dom d JOIN rates r USING (domain)
    GROUP BY r.domain, r.n_docs, r.thresh_q32
    """,
    survey_ref="extension: per-domain mixture balancing — every "
    "registrable domain keeps at most ~cap docs in expectation via a "
    "deterministic Bernoulli in the hash_sample universe (the "
    "RefinedWeb/FineWeb domain-cap step); report = the mixture table a "
    "100 TB pipeline persists plus the selection it implies",
    tags=("llm", "url", "sampling"),
)
def llm_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm import urls

    return urls.domain_capped_sample(
        _docs_with_urls(spark, sf_dir), "doc_id", "url", cap=_DOMAIN_CAP
    )


@register(
    "llm_domain_balanced_sample",
    # the selection llm_domain_mix reports on, as the actual rows the
    # content stages consume — per-domain Bernoulli cap membership
    oracle=f"""
    WITH {_URL_DOCS_CTE},
    h AS (SELECT doc_id, {_HOST_SQL} AS host FROM udocs),
    dom AS (SELECT doc_id, {_DOMAIN_SQL} AS domain FROM h),
    rates AS (SELECT domain,
                     CAST(floor(LEAST(1.0,
                          {_DOMAIN_CAP} / CAST(COUNT(*) AS DOUBLE))
                          * 4294967296.0) AS BIGINT) AS thresh
              FROM dom GROUP BY domain)
    SELECT d.doc_id AS id, d.domain
    FROM dom d JOIN rates r USING (domain)
    WHERE {_u32_sql("d.doc_id")} < r.thresh
    """,
    survey_ref="extension: the domain-balanced corpus itself — "
    "per-domain capped Bernoulli membership feeding the content stages "
    "(llm_domain_mix is its persisted mixture table); rate frame "
    "broadcasts, corpus side stays one narrow filter",
    tags=("llm", "url", "sampling"),
)
def llm_domain_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return urls_mod.domain_capped_select(
        _docs_with_urls(spark, sf_dir), "doc_id", "url", cap=_DOMAIN_CAP
    )


_STAGE1_CAP = 3  # the URL-dedup survivors hold 4 docs/domain at the
# test SFs — cap 3 makes the balancing stage do real work (rate 0.75)


@register(
    "llm_stage1_pipeline",
    # CCNet/RefinedWeb stage 1 COMPOSED in its published order, before
    # any content pass: URL-exact dedup (keep-first by normalized URL)
    # -> per-domain cap over the URL-surviving docs. The domain counts
    # feeding the cap are computed AFTER URL dedup — balancing raw URLs
    # would double-count mirrored pages.
    oracle=f"""
    WITH {_URL_DOCS_CTE},
    kept AS (SELECT MIN(doc_id) AS doc_id
             FROM (SELECT doc_id, {_NORM_SQL} AS norm_url FROM udocs)
             GROUP BY norm_url),
    kdocs AS (SELECT u.doc_id, u.url FROM udocs u
              JOIN kept k ON k.doc_id = u.doc_id),
    h AS (SELECT doc_id, {_HOST_SQL} AS host FROM kdocs),
    dom AS (SELECT doc_id, {_DOMAIN_SQL} AS domain FROM h),
    rates AS (SELECT domain,
                     CAST(floor(LEAST(1.0,
                          {_STAGE1_CAP} / CAST(COUNT(*) AS DOUBLE))
                          * 4294967296.0) AS BIGINT) AS thresh
              FROM dom GROUP BY domain)
    SELECT d.doc_id AS id, d.domain
    FROM dom d JOIN rates r USING (domain)
    WHERE {_u32_sql("d.doc_id")} < r.thresh
    """,
    survey_ref="extension: stage 1 composed — URL-exact dedup then "
    "per-domain cap over the SURVIVORS (balancing raw URLs would "
    "double-count mirrors); the pass CCNet/RefinedWeb run before any "
    "content stage, and the natural front of llm_training_shards",
    tags=("llm", "url", "pipeline"),
)
def llm_stage1_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs_with_urls(spark, sf_dir)
    kept = urls_mod.url_dedup(d, "doc_id", "url").select(
        F.col("keep_id").alias("doc_id")
    )
    survivors = d.join(kept, "doc_id", "left_semi")
    return urls_mod.domain_capped_select(survivors, "doc_id", "url",
                                         cap=_STAGE1_CAP)


@register(
    "llm_domain_quality",
    # the crawl-quality diagnostic every URL-aware pipeline maintains:
    # per registrable domain, how many docs the Gopher rules keep — the
    # signal that drives domain blocklists before any expensive stage.
    # One corpus scan (extraction + rules are row-local), one aggregate.
    oracle=f"""
    WITH {_URL_DOCS_CTE},
    h AS (SELECT doc_id, {_HOST_SQL} AS host FROM udocs),
    dom AS (SELECT doc_id, {_DOMAIN_SQL} AS domain FROM h),
    tk AS (SELECT doc_id,
                  COALESCE({TOKS}, CAST([] AS VARCHAR[])) AS toks
           FROM documents),
    feat AS (
        SELECT doc_id, len(toks) AS n,
               CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
                 / CAST(len(toks) AS DOUBLE) AS mean_len,
               CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-z]')))
                 AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS alpha_frac,
               len(list_filter(toks, t -> list_contains(
                   ['the','a','of','and','is','to','in'], t))) AS n_stop
        FROM tk
    ),
    verdict AS (
        SELECT doc_id,
               ((n > 0 AND n BETWEEN 20 AND 100000)
                AND COALESCE(n > 0 AND mean_len BETWEEN 3.0 AND 10.0, FALSE)
                AND COALESCE(n > 0 AND alpha_frac >= 0.8, FALSE)
                AND (n > 0 AND n_stop >= 2)) AS keep
        FROM feat
    )
    SELECT d.domain,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN v.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
           CAST(SUM(CASE WHEN v.keep THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS keep_rate
    FROM dom d JOIN verdict v USING (doc_id)
    GROUP BY d.domain
    """,
    survey_ref="extension: per-domain quality report — registrable "
    "domain x Gopher keep-rate, the blocklist-driving crawl diagnostic "
    "(RefinedWeb/FineWeb maintain exactly this table); one scan, one "
    "aggregate, single exact division per domain",
    tags=("llm", "url", "text", "quality"),
)
def llm_domain_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm import urls, text as text_mod

    d = _docs(spark, sf_dir)
    dom = _with_url(d.select("doc_id")).select(
        "doc_id",
        urls.registrable_domain(urls.host_of(F.col("url"))).alias("domain"),
    )
    keep = text_mod.gopher_filter(d, "doc_id", "text").select("id", "keep")
    j = dom.join(keep, dom["doc_id"] == keep["id"])
    return j.groupBy("domain").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("long").alias("n_keep"),
        (
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("keep_rate"),
    )


@register(
    "llm_training_shards_full",
    # The COMPLETE raw-crawl-to-training-artifact chain, stage 1 fronted
    # (the order production pipelines actually run): URL-exact dedup ->
    # per-domain cap -> paragraph dedup -> Gopher -> exact dedup ->
    # MinHash near-dup -> decontamination -> language mixture ->
    # sequence packing -> shuffle order. The oracle replays every stage
    # on the chained text; the paragraph-dup planting happens over the
    # stage-1 SURVIVORS (mirror pages die before any content pass, which
    # is stage 1's whole point).
    oracle=f"""
    WITH {_URL_DOCS_CTE},
    kept AS (SELECT MIN(doc_id) AS doc_id
             FROM (SELECT doc_id, {_NORM_SQL} AS norm_url FROM udocs)
             GROUP BY norm_url),
    kdocs AS (SELECT u.doc_id, u.url FROM udocs u
              JOIN kept k ON k.doc_id = u.doc_id),
    s1h AS (SELECT doc_id, {_HOST_SQL} AS host FROM kdocs),
    s1dom AS (SELECT doc_id, {_DOMAIN_SQL} AS domain FROM s1h),
    s1rates AS (SELECT domain,
                     CAST(floor(LEAST(1.0,
                          {_STAGE1_CAP} / CAST(COUNT(*) AS DOUBLE))
                          * 4294967296.0) AS BIGINT) AS thresh
              FROM s1dom GROUP BY domain),
    s1 AS (SELECT d.doc_id FROM s1dom d JOIN s1rates r USING (domain)
           WHERE {_u32_sql("d.doc_id")} < r.thresh),
    src AS (SELECT doc.doc_id, doc.text FROM documents doc
            JOIN s1 ON s1.doc_id = doc.doc_id),
    {_curate_full_ctes(_para_corpus_sql("src"))},
    lng AS (SELECT surv.id, surv.ctext,
                   COALESCE(doc.lang, 'unknown') AS lang
            FROM surv LEFT JOIN documents doc ON doc.doc_id = surv.id),
    samp AS (SELECT id, ctext, lang FROM lng
             WHERE {_u32_sql("id")} < {_SHARD_RATES_SQL}),
    ptk AS (SELECT id, lang, id % 8 AS shard,
                   len({_TOKS_CT}) AS n_tokens
            FROM samp),
    pnz AS (SELECT * FROM ptk WHERE n_tokens > 0),
    pack AS (SELECT id, lang, CAST(shard AS BIGINT) AS shard,
        CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 512
             AS BIGINT) AS seq_id,
        CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS tok_offset,
        CAST(n_tokens AS BIGINT) AS n_tokens
        FROM pnz)
    SELECT id, shard, seq_id, tok_offset, n_tokens, lang,
           ROW_NUMBER() OVER (
               ORDER BY {_u32_sql("'shuffle|' || CAST(id AS VARCHAR)")},
                        id) AS shuffle_rank
    FROM pack
    """,
    survey_ref="extension FLAGSHIP #3: the complete raw-crawl-to-shards "
    "chain with stage 1 fronted — URL dedup -> domain cap -> "
    "curate_full -> decontaminate -> mixture -> pack -> shuffle, one "
    "lazy plan per phase boundary, every stage replayed by the "
    "end-to-end oracle on the chained text",
    tags=("llm", "url", "pipeline", "layout"),
    # not benched: shares its dominant cost (curate_full) with
    # llm_curation_pipeline_full, same policy as llm_training_shards
)
def llm_training_shards_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.curation import training_shards

    d = _docs_with_urls(spark, sf_dir)
    kept = urls_mod.url_dedup(d, "doc_id", "url").select(
        F.col("keep_id").alias("doc_id")
    )
    s1 = urls_mod.domain_capped_select(
        d.join(kept, "doc_id", "left_semi"), "doc_id", "url",
        cap=_STAGE1_CAP,
    ).select(F.col("id").alias("doc_id"))
    # phase boundary: stage 1's output materializes before the content
    # stages (production pipelines persist it — at 100 TB this is the
    # stage-1 table write). Also load-bearing for the plan: the planting
    # union + curate_full's many consumers would otherwise replicate the
    # whole stage-1 subtree per reader and blow up plan canonicalization.
    src = (
        _docs(spark, sf_dir).select("doc_id", "text")
        .join(s1, "doc_id", "left_semi")
        .localCheckpoint(eager=True)
    )
    corpus = _para_corpus_from(src)
    bench = _docs(spark, sf_dir).filter(F.col("doc_id") % 13 == 0).select(
        "doc_id", "text"
    )
    lang_df = _docs(spark, sf_dir).select("doc_id", "lang")
    return training_shards(corpus, bench, lang_df, "doc_id", "text",
                           window=_PARA_W)


# --------------------------------------------------------- r10: PSL dim
# + exact per-domain top-k cap (r9 VERDICT asks #4/#5).

# exotic-host fixture exercising the REAL public-suffix semantics the
# 14-pair literal cannot express: multi-label suffixes beyond its set
# (com.sg / co.za / k12.ma.us), wildcard blocks (*.kawasaki.jp, *.ck)
# and their carve-out exceptions (!city.kawasaki.jp, !www.ck). Same
# deterministic doc_id derivation discipline as _URL_SQL.
_PSL_URL_CTE = """pudocs AS (SELECT doc_id,
    'https://' || (CASE doc_id % 8
        WHEN 0 THEN 'site' || CAST(doc_id % 3 AS VARCHAR) || '.com'
        WHEN 1 THEN 'www.shop' || CAST(doc_id % 3 AS VARCHAR) || '.com.sg'
        WHEN 2 THEN 'mail' || CAST(doc_id % 3 AS VARCHAR) || '.co.za'
        WHEN 3 THEN 'a' || CAST(doc_id % 3 AS VARCHAR) || '.b.kawasaki.jp'
        WHEN 4 THEN 'city.kawasaki.jp'
        WHEN 5 THEN 'foo' || CAST(doc_id % 3 AS VARCHAR) || '.bar.ck'
        WHEN 6 THEN 'www.ck'
        ELSE 'x' || CAST(doc_id % 3 AS VARCHAR) || '.k12.ma.us' END)
    || '/p/' || CAST(doc_id % 20 AS VARCHAR) AS url
    FROM documents)"""


def _with_url_psl(d: DataFrame) -> DataFrame:
    """Spark rendering of _PSL_URL_CTE (identical string arithmetic).
    Like :func:`_with_url`, carries any extra columns the caller holds
    (r12: the normalized stage-1 chain derives urls on the frame that
    already carries the variant text, keeping the corpus scan single)."""
    rid = F.col("doc_id")
    m = (rid % 3).cast("string")
    host = (
        F.when(rid % 8 == 0, F.concat(F.lit("site"), m, F.lit(".com")))
        .when(rid % 8 == 1, F.concat(F.lit("www.shop"), m, F.lit(".com.sg")))
        .when(rid % 8 == 2, F.concat(F.lit("mail"), m, F.lit(".co.za")))
        .when(rid % 8 == 3, F.concat(F.lit("a"), m, F.lit(".b.kawasaki.jp")))
        .when(rid % 8 == 4, F.lit("city.kawasaki.jp"))
        .when(rid % 8 == 5, F.concat(F.lit("foo"), m, F.lit(".bar.ck")))
        .when(rid % 8 == 6, F.lit("www.ck"))
        .otherwise(F.concat(F.lit("x"), m, F.lit(".k12.ma.us")))
    )
    url = F.concat(
        F.lit("https://"), host, F.lit("/p/"), (rid % 20).cast("string")
    )
    assert "url" not in d.columns, (
        "_with_url_psl: input already has a 'url' column"
    )
    return d.select("*", url.alias("url"))


def _register_psl_entries() -> None:
    from ..llm import psl

    @register(
        "llm_domain_mix_psl",
        oracle=f"""
        WITH {_PSL_URL_CTE},
        hosts AS (SELECT doc_id, {_HOST_SQL} AS host FROM pudocs),
        {psl.psl_domain_sql("hosts").lstrip()}
        SELECT domain, COUNT(*) AS n_docs,
               CAST(floor(LEAST(1.0,
                    {_DOMAIN_CAP} / CAST(COUNT(*) AS DOUBLE))
                    * 4294967296.0) AS BIGINT) AS thresh_q32
        FROM psldom GROUP BY domain
        """,
        survey_ref="r9 VERDICT ask #4: registrable domain via the REAL "
        "Public Suffix List semantics (normal/wildcard/exception rules, "
        "longest match, exceptions prevail) as a broadcast suffix DIM — "
        "the rule table round-trips through the DimStore (S7 machinery) "
        "the way a deployment persists the full publicsuffix.org list; "
        "the 14-pair literal in llm/urls.py stays as the no-dim "
        "fallback. Domain-mix report over hosts the literal mis-groups "
        "(com.sg, co.za, *.kawasaki.jp, !www.ck, k12.ma.us)",
        tags=("llm", "url", "sampling", "dim"),
    )
    def llm_domain_mix_psl(spark: SparkSession, sf_dir: str) -> DataFrame:
        import shutil
        import tempfile

        from ..sources.dim_store import DimStore

        d = _with_url_psl(_docs(spark, sf_dir).select("doc_id"))
        h = d.select("doc_id", urls_mod.host_of(F.col("url")).alias("host"))
        store = DimStore(spark, tempfile.mkdtemp(prefix="gmall_psl_dim_"))
        try:
            store.upsert(psl.PSL_TABLE, psl.psl_rules_df(spark), pk="suffix")
            rules = store.read(psl.PSL_TABLE)
            dom = psl.registrable_domain_psl(h, "host", rules).select(
                "doc_id", "domain"
            )
            rate = F.least(
                F.lit(1.0),
                F.lit(float(_DOMAIN_CAP)) / F.col("n_docs").cast("double"),
            )
            out = (
                dom.groupBy("domain")
                .agg(F.count(F.lit(1)).alias("n_docs"))
                .select(
                    "domain",
                    "n_docs",
                    F.floor(rate * F.lit(float(1 << 32)))
                    .cast("long")
                    .alias("thresh_q32"),
                )
            )
            # materialize before the dim dir is removed (the
            # llm_dedup_incremental discipline)
            return out.localCheckpoint(eager=True)
        finally:
            shutil.rmtree(store.root, ignore_errors=True)


_register_psl_entries()


@register(
    "llm_domain_capped_topk",
    oracle=f"""
    WITH {_URL_DOCS_CTE},
    h AS (SELECT doc_id, url, {_HOST_SQL} AS host FROM udocs),
    dom AS (SELECT doc_id, {_DOMAIN_SQL} AS domain FROM h),
    rk AS (SELECT doc_id AS id, domain,
                  ROW_NUMBER() OVER (PARTITION BY domain
                      ORDER BY {_u32_sql("doc_id")}, doc_id) AS rk
           FROM dom)
    SELECT id, domain, CAST(rk AS BIGINT) AS rk
    FROM rk WHERE rk <= {_DOMAIN_CAP}
    """,
    survey_ref="r9 VERDICT ask #5: deterministic EXACT per-domain cap — "
    "keep exactly min(cap, n_d) docs per domain, ranked by the stable "
    "hash (FineWeb-style mixture contract) vs the Bernoulli "
    "~cap-in-expectation of llm_domain_mix; compiles to "
    "WindowGroupLimit on both sides of the one domain exchange "
    "(plan-gated), so a billion-doc domain ships at most cap rows",
    tags=("llm", "url", "sampling"),
    # r10 bench-set addition (documented per the standing honesty ask):
    # tracks the WindowGroupLimit group-limit path per round, ~0.5 s
    bench=True,
)
def llm_domain_capped_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return urls_mod.domain_capped_topk(
        _docs_with_urls(spark, sf_dir), "doc_id", "url", cap=_DOMAIN_CAP
    )


def _register_stage1_psl_topk() -> None:
    from ..llm import psl

    @register(
        "llm_stage1_psl_topk",
        # stage 1 with BOTH r10 upgrades composed: keep-first URL dedup,
        # then the REAL-PSL registrable domain (broadcast rule dim), then
        # the exact min(cap, n_d) per-domain selection. The oracle chains
        # kept -> psl_domain_sql -> ROW_NUMBER, all from shared fragments.
        oracle=f"""
        WITH {_PSL_URL_CTE},
        kept AS (SELECT MIN(doc_id) AS doc_id
                 FROM (SELECT doc_id, {_NORM_SQL} AS nrm FROM pudocs)
                 GROUP BY nrm),
        kdocs AS (SELECT u.doc_id, u.url FROM pudocs u
                  JOIN kept k ON k.doc_id = u.doc_id),
        hosts AS (SELECT doc_id, {_HOST_SQL} AS host FROM kdocs),
        {psl.psl_domain_sql("hosts").lstrip()},
        rk AS (SELECT doc_id AS id, domain,
                      ROW_NUMBER() OVER (PARTITION BY domain
                          ORDER BY {_u32_sql("doc_id")}, doc_id) AS rk
               FROM psldom)
        SELECT id, domain, CAST(rk AS BIGINT) AS rk
        FROM rk WHERE rk <= {_DOMAIN_CAP}
        """,
        survey_ref="r10 composition: the stage-1 pass with the real-PSL "
        "domain dim AND the exact per-domain cap — URL keep-first dedup "
        "-> broadcast-rule registrable domain (wildcards/exceptions "
        "grouped correctly, unlike the literal) -> deterministic "
        "min(cap, n_d) top-k; plan is the url_dedup aggregation + "
        "three broadcast rule probes + WindowGroupLimit on both "
        "exchange sides — the 'swap the literal for the dim is not a "
        "plan change' promise demonstrated inside the composed pipeline",
        tags=("llm", "url", "sampling", "pipeline", "dim"),
    )
    def llm_stage1_psl_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyspark.sql import Window

        from ..llm.sampling import _u32

        d = _with_url_psl(_docs(spark, sf_dir).select("doc_id"))
        kept = urls_mod.url_dedup(d, "doc_id", "url").select(
            F.col("keep_id").alias("doc_id")
        )
        surv = d.join(kept, "doc_id", "left_semi")
        h = surv.select(
            "doc_id", urls_mod.host_of(F.col("url")).alias("host")
        )
        dom = psl.registrable_domain_psl(
            h, "host", psl.psl_rules_df(spark)
        ).select(F.col("doc_id").alias("id"), "domain")
        w = Window.partitionBy("domain").orderBy(
            _u32(F.col("id")).asc(), F.col("id").asc()
        )
        return (
            dom.withColumn("rk", F.row_number().over(w).cast("long"))
            .filter(F.col("rk") <= _DOMAIN_CAP)
            .select("id", "domain", "rk")
        )


_register_stage1_psl_topk()


# ================================================================ r11 births
# --- stage-0 unicode text normalization ------------------------------------
# The synthetic corpus is pure ASCII (TESTDATA.md), so an identity-map
# entry would prove nothing. Instead the entry derives a deterministically
# DIRTIED projection from the SAME literals on both engines — decomposed
# 'Cafe' + U+0301 COMBINING ACUTE (NFC composes it), a BEL control (the
# strip removes it), an NBSP (the collapse folds it), run-on whitespace —
# and normalizes THAT, so every normalization step is exercised and
# hash-checked per row.

_DIRTY_SQL = (
    "('Cafe' || chr(769) || '  ' || text || chr(7) || ' du' || chr(160)"
    " || 'monde' || chr(9) || upper(lang))"
)

# RE2 rendering of text.NORM_WS_CLASS: every non-structural member as a
# \x{....} escape, generated FROM the one Python constant so the two
# engines cannot drift (the Spark side passes the constant itself).
_WS_CLASS_SQL = "".join(
    ch if ch in "[]+ " else "\\x{%04x}" % ord(ch) for ch in text.NORM_WS_CLASS
)


@register(
    "llm_text_normalize",
    oracle=f"""
    WITH dirty AS (SELECT doc_id, {_DIRTY_SQL} AS dtext FROM documents),
    norm AS (SELECT doc_id, dtext,
                    trim(regexp_replace(nfc_normalize(
                        regexp_replace(dtext,
                                       '{text.NORM_CTRL_CLASS}', '', 'g')),
                        '{_WS_CLASS_SQL}', ' ', 'g')) AS ntext
             FROM dirty)
    SELECT doc_id,
           strlen(dtext) AS n_bytes_raw,
           strlen(ntext) AS n_bytes_norm,
           md5(ntext) AS fp
    FROM norm
    """,
    survey_ref="extension (r11): stage-0 text normalization — NFC "
    "canonical composition (the one step with no JVM built-in: an "
    "Arrow-batched pandas UDF over unicodedata, mirrored by DuckDB's "
    "nfc_normalize, both UAX #15), then JVM-side C0/DEL strip, "
    "whitespace+NBSP run collapse, trim; the cleanup crawl pipelines "
    "run before any digest/token stage, else byte-variant renderings "
    "of equal text defeat exact dedup. Row-local, zero exchanges",
    tags=("llm", "text"),
    # r11 bench-set addition (documented per the standing honesty ask):
    # tracks the Arrow-batched-UDF corpus path per round, ~sub-second
    bench=True,
)
def llm_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    dirty = F.concat(
        F.lit("Cafe\u0301  "),  # DECOMPOSED e + COMBINING ACUTE (= chr(769))
        F.col("text"),
        F.lit("\x07 du\u00a0monde\t"),  # BEL + NBSP, matching the chr() calls
        F.upper(F.col("lang")),
    )
    base = d.select("doc_id", dirty.alias("dtext"))
    norm = text.normalize_text(base, "dtext", out_col="ntext")
    return norm.select(
        "doc_id",
        F.octet_length("dtext").cast("long").alias("n_bytes_raw"),
        F.octet_length("ntext").cast("long").alias("n_bytes_norm"),
        F.md5(F.col("ntext")).alias("fp"),
    )


# --- URL dedup: the surviving corpus ----------------------------------------
@register(
    "llm_url_dedup_corpus",
    oracle=f"""
    WITH {_URL_DOCS_CTE}
    SELECT MIN(doc_id) AS doc_id, norm_url
    FROM (SELECT doc_id, {_NORM_SQL} AS norm_url FROM udocs)
    GROUP BY norm_url
    """,
    survey_ref="r9 VERDICT 'What's wrong' API-taste note, closed as a "
    "first-class entry: llm_url_dedup returns the dedup MAP "
    "(norm_url, keep_id, dup_ct); this is the deduped corpus itself — "
    "the surviving (doc_id, norm_url) rows, which are the map "
    "reprojected from the SAME single map-side-combined aggregation "
    "(no second corpus pass)",
    tags=("llm", "url", "dedup"),
)
def llm_url_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    return urls_mod.url_dedup_corpus(
        _docs_with_urls(spark, sf_dir), "doc_id", "url"
    )


# --- corpus near-dup rate (the dedup KPI) -----------------------------------
@register(
    "llm_minhash_dup_rate",
    # shares _MH_COLS/_BANDS_SQL/SHINGLE_CTE with llm_dedup_minhash, so
    # the candidate/verify semantics cannot drift between the two
    oracle=f"""
    WITH {SHINGLE_CTE},
    sig AS (SELECT doc_id, {_MH_COLS} FROM sh GROUP BY doc_id),
    bk AS (SELECT DISTINCT doc_id, bucket
           FROM (SELECT doc_id, UNNEST([{_BANDS_SQL}]) AS bucket FROM sig)),
    cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             FROM bk a JOIN bk b ON a.bucket = b.bucket
                                AND a.doc_id < b.doc_id),
    common AS (SELECT c.id_a, c.id_b, COUNT(*) AS common
               FROM cand c
               JOIN sh a ON a.doc_id = c.id_a
               JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
               GROUP BY c.id_a, c.id_b),
    pairs AS (SELECT id_a, id_b FROM common
              JOIN sizes sa ON id_a = sa.doc_id
              JOIN sizes sb ON id_b = sb.doc_id
              WHERE CAST(common AS DOUBLE)
                    / CAST(sa.n + sb.n - common AS DOUBLE) >= 0.4),
    dup AS (SELECT COUNT(DISTINCT doc_id) AS n_dup_docs
            FROM (SELECT id_a AS doc_id FROM pairs
                  UNION ALL SELECT id_b FROM pairs)),
    tot AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT n_dup_docs, n_docs,
           CAST(n_dup_docs AS DOUBLE) / CAST(n_docs AS DOUBLE) AS dup_rate
    FROM dup, tot
    """,
    survey_ref="extension (r11): corpus near-duplication rate — the KPI "
    "a dedup pass is judged by (fraction of docs with at least one "
    "verified near-dup at the llm_dedup_minhash threshold). Composition "
    "of the LSH pair feed: explode pair endpoints -> one distinct-count "
    "aggregate -> one double division of two exact longs; the pair feed "
    "is bucket-bounded, so the rollup adds one map-side-combined agg on "
    "top of the scale-safe candidate path",
    tags=("llm", "dedup", "sketch"),
)
def llm_minhash_dup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    pairs = dedup.minhash_lsh_pairs(
        d, "doc_id", "text", n=3, num_hashes=_NH, bands=_BANDS, threshold=0.4
    )
    dup = pairs.select(
        F.explode(F.array("id_a", "id_b")).alias("doc_id")
    ).agg(F.countDistinct("doc_id").alias("n_dup_docs"))
    tot = d.agg(F.count(F.lit(1)).alias("n_docs"))
    return dup.crossJoin(F.broadcast(tot)).select(
        "n_dup_docs",
        "n_docs",
        (
            F.col("n_dup_docs").cast("double") / F.col("n_docs").cast("double")
        ).alias("dup_rate"),
    )


# --- per-domain quality report on the REAL-PSL domain -----------------------
def _register_domain_quality_psl() -> None:
    from ..llm import psl

    @register(
        "llm_domain_quality_psl",
        # PSL-domain twin of llm_domain_quality, over the host universe
        # the 14-pair literal mis-groups (com.sg, co.za, *.kawasaki.jp,
        # !www.ck, k12.ma.us) — same Gopher verdict fragments, domain
        # via the broadcast rule dim (llm_domain_mix_psl's grouping).
        oracle=f"""
        WITH {_PSL_URL_CTE},
        hosts AS (SELECT doc_id, {_HOST_SQL} AS host FROM pudocs),
        {psl.psl_domain_sql("hosts").lstrip()},
        tk AS (SELECT doc_id,
                      COALESCE({TOKS}, CAST([] AS VARCHAR[])) AS toks
               FROM documents),
        feat AS (
            SELECT doc_id, len(toks) AS n,
                   CAST(list_sum(list_transform(toks, t -> length(t)))
                        AS DOUBLE)
                     / CAST(len(toks) AS DOUBLE) AS mean_len,
                   CAST(len(list_filter(toks,
                                        t -> regexp_matches(t, '[a-z]')))
                     AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS alpha_frac,
                   len(list_filter(toks, t -> list_contains(
                       ['the','a','of','and','is','to','in'], t))) AS n_stop
            FROM tk
        ),
        verdict AS (
            SELECT doc_id,
                   ((n > 0 AND n BETWEEN 20 AND 100000)
                    AND COALESCE(n > 0 AND mean_len BETWEEN 3.0 AND 10.0,
                                 FALSE)
                    AND COALESCE(n > 0 AND alpha_frac >= 0.8, FALSE)
                    AND (n > 0 AND n_stop >= 2)) AS keep
            FROM feat
        )
        SELECT p.domain,
               COUNT(*) AS n_docs,
               CAST(SUM(CASE WHEN v.keep THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_keep,
               CAST(SUM(CASE WHEN v.keep THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE) AS keep_rate
        FROM psldom p JOIN verdict v USING (doc_id)
        GROUP BY p.domain
        """,
        survey_ref="r11: the PSL dim wired wider (PLAN_r11 candidate) — "
        "llm_domain_quality's blocklist-driving report grouped by the "
        "REAL-PSL registrable domain (broadcast rule dim, zero extra "
        "exchanges) instead of the literal stand-in; one corpus scan "
        "for the Gopher verdict, one for the host projection, one "
        "aggregate",
        tags=("llm", "url", "text", "quality", "dim"),
    )
    def llm_domain_quality_psl(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ..llm import text as text_mod

        d = _docs(spark, sf_dir)
        h = _with_url_psl(d.select("doc_id")).select(
            "doc_id", urls_mod.host_of(F.col("url")).alias("host")
        )
        dom = psl.registrable_domain_psl(
            h, "host", psl.psl_rules_df(spark)
        ).select("doc_id", "domain")
        keep = text_mod.gopher_filter(d, "doc_id", "text").select("id", "keep")
        j = dom.join(keep, dom["doc_id"] == keep["id"])
        return j.groupBy("domain").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0))
            .cast("long")
            .alias("n_keep"),
            (
                F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("keep_rate"),
        )


_register_domain_quality_psl()


# --- normalization-recovered dedup (why stage 0 exists) ---------------------
# Four byte-variant renderings of the same canonical prefix — decomposed
# NFC pair, precomposed char, NBSP separator, control + run-on spaces —
# are planted per doc_id % 4. Raw md5 sees four distinct strings, so
# exact dedup recovers NOTHING across variants; after normalize_text all
# four collapse to one canonical rendering and the dedup map finds the
# corpus's planted exact-dup families again. The entry returns the
# digest-grouped dedup map over the NORMALIZED text (llm_dedup_exact's
# shape), demonstrating the byte-variant recovery end-to-end.
# ~20% of docs (doc_id % 5 == 0) swap their body for one of ten shared
# canonical bodies ((doc_id // 5) % 10), so the corpus carries planted
# byte-variant dup FAMILIES at every scale factor (the raw corpus has
# zero exact dups at sf0.001/sf0.01 — without the plant the recovery
# story would be vacuous); the other 80% keep their own unique text.
_VBODY_SQL = (
    "(CASE WHEN doc_id % 5 = 0 THEN 'the shared canonical body number '"
    " || CAST((doc_id // 5) % 10 AS VARCHAR) ELSE text END)"
)
_VARIANT_SQL = f"""(CASE CAST(doc_id % 4 AS INTEGER)
    WHEN 0 THEN 'Cafe' || chr(769) || ' intro ' || {_VBODY_SQL}
    WHEN 1 THEN 'Caf' || chr(233) || ' intro ' || {_VBODY_SQL}
    WHEN 2 THEN 'Caf' || chr(233) || chr(160) || 'intro ' || {_VBODY_SQL}
    ELSE 'Caf' || chr(233) || chr(9) || 'intro' || chr(7) || '  '
         || {_VBODY_SQL}
END)"""


def _norm_expr_sql(expr: str) -> str:
    """DuckDB rendering of llm/text.py::normalize_text over ``expr`` —
    strip -> nfc_normalize -> collapse -> trim, the NUL-safe order the
    r11 hypothesis suite pinned down; generated from the same two class
    constants as the Spark side so the engines cannot drift."""
    return (
        f"trim(regexp_replace(nfc_normalize(regexp_replace({expr}, "
        f"'{text.NORM_CTRL_CLASS}', '', 'g')), '{_WS_CLASS_SQL}', ' ', 'g'))"
    )


def _variant_texts(d: DataFrame) -> DataFrame:
    """Spark rendering of _VARIANT_SQL over a (doc_id, text) frame —
    the byte-variant planting llm_normalize_dedup documents, shared
    with the composed normalized stage-1 entries (r12)."""
    rid = F.col("doc_id") % 4
    body = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(
            F.lit("the shared canonical body number "),
            (F.floor(F.col("doc_id") / 5) % 10).cast("string"),
        ),
    ).otherwise(F.col("text"))
    variant = (
        # v0: decomposed pair; v1: precomposed; v2: NBSP separator;
        # v3: tab + BEL + run-on spaces — all normalize identically
        F.when(rid == 0, F.concat(F.lit("Cafe\u0301 intro "), body))
        .when(rid == 1, F.concat(F.lit("Caf\u00e9 intro "), body))
        .when(rid == 2, F.concat(F.lit("Caf\u00e9\u00a0intro "), body))
        .otherwise(F.concat(F.lit("Caf\u00e9\tintro\x07  "), body))
    )
    return d.select("doc_id", variant.alias("vtext"))


@register(
    "llm_normalize_dedup",
    oracle=f"""
    WITH vdocs AS (SELECT doc_id, {_VARIANT_SQL} AS vtext FROM documents),
    norm AS (SELECT doc_id,
                    trim(regexp_replace(nfc_normalize(
                        regexp_replace(vtext,
                                       '{text.NORM_CTRL_CLASS}', '', 'g')),
                        '{_WS_CLASS_SQL}', ' ', 'g')) AS ntext
             FROM vdocs)
    SELECT md5(ntext) AS digest, MIN(doc_id) AS keep_id, COUNT(*) AS dup_ct
    FROM norm GROUP BY md5(ntext)
    """,
    survey_ref="extension (r11): normalization-recovered exact dedup — "
    "THE reason stage-0 normalization runs before digests: four "
    "byte-variant renderings (decomposed pair / precomposed char / "
    "NBSP / control + run-on spaces) of one canonical prefix defeat "
    "raw-md5 dedup entirely; normalize_text collapses them and the "
    "one-aggregation dedup map recovers the planted dup families. "
    "Plan = the zero-exchange normalize chain + llm_dedup_exact's "
    "single map-side-combined aggregation",
    tags=("llm", "text", "dedup"),
)
def llm_normalize_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _variant_texts(_docs(spark, sf_dir))
    norm = text.normalize_text(base, "vtext", out_col="ntext")
    return norm.groupBy(F.md5(F.col("ntext")).alias("digest")).agg(
        F.min("doc_id").alias("keep_id"),
        F.count(F.lit(1)).alias("dup_ct"),
    )


# --- quality-driven domain blocklist, applied -------------------------------
_BLOCK_K = 4  # bottom-k domains by Gopher keep-rate are blocked


@register(
    "llm_domain_blocklist_filter",
    # the composition llm_domain_quality's docstring promises: the
    # per-domain keep-rate table DRIVES a blocklist, and the blocklist
    # filters the corpus. Bottom-k (not an absolute threshold): the
    # keep-rate distribution shifts with scale (sf0.1's min is 0.706,
    # sf0.001's is 0.576), so a fixed cut goes vacuous; the k worst
    # offenders are always non-vacuous and deterministic (keep_rate,
    # domain) ties included.
    oracle=f"""
    WITH {_URL_DOCS_CTE},
    h AS (SELECT doc_id, {_HOST_SQL} AS host FROM udocs),
    dom AS (SELECT doc_id, {_DOMAIN_SQL} AS domain FROM h),
    tk AS (SELECT doc_id,
                  COALESCE({TOKS}, CAST([] AS VARCHAR[])) AS toks
           FROM documents),
    feat AS (
        SELECT doc_id, len(toks) AS n,
               CAST(list_sum(list_transform(toks, t -> length(t)))
                    AS DOUBLE)
                 / CAST(len(toks) AS DOUBLE) AS mean_len,
               CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-z]')))
                 AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS alpha_frac,
               len(list_filter(toks, t -> list_contains(
                   ['the','a','of','and','is','to','in'], t))) AS n_stop
        FROM tk
    ),
    verdict AS (
        SELECT doc_id,
               ((n > 0 AND n BETWEEN 20 AND 100000)
                AND COALESCE(n > 0 AND mean_len BETWEEN 3.0 AND 10.0,
                             FALSE)
                AND COALESCE(n > 0 AND alpha_frac >= 0.8, FALSE)
                AND (n > 0 AND n_stop >= 2)) AS keep
        FROM feat
    ),
    rates AS (
        SELECT d.domain,
               CAST(SUM(CASE WHEN v.keep THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE) AS keep_rate
        FROM dom d JOIN verdict v USING (doc_id)
        GROUP BY d.domain
    ),
    blocked AS (
        SELECT domain FROM (
            SELECT domain,
                   ROW_NUMBER() OVER (ORDER BY keep_rate, domain) AS rk
            FROM rates) WHERE rk <= {_BLOCK_K}
    )
    SELECT d.doc_id, d.domain
    FROM dom d LEFT JOIN blocked b USING (domain)
    WHERE b.domain IS NULL
    """,
    survey_ref="extension (r11): the blocklist llm_domain_quality "
    "drives, APPLIED — rank domains by Gopher keep-rate, block the "
    "bottom-k, keep the rest of the corpus. Plan = one corpus-grain "
    "aggregate for the rate table (tiny), a row_number over that "
    "15-row frame, then a BROADCAST anti-join back onto the corpus "
    "scan — the aggregate-tiny-then-broadcast-back two-pass shape "
    "(domain_capped_sample's), never a corpus-side sort",
    tags=("llm", "url", "text", "quality", "sampling"),
)
def llm_domain_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..llm import text as text_mod, urls

    d = _docs(spark, sf_dir)
    dom = _with_url(d.select("doc_id")).select(
        "doc_id",
        urls.registrable_domain(urls.host_of(F.col("url"))).alias("domain"),
    )
    keep = text_mod.gopher_filter(d, "doc_id", "text").select("id", "keep")
    rates = (
        dom.join(keep, dom["doc_id"] == keep["id"])
        .groupBy("domain")
        .agg(
            (
                F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("keep_rate")
        )
    )
    w = Window.orderBy(F.col("keep_rate").asc(), F.col("domain").asc())
    blocked = (
        rates.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _BLOCK_K)
        .select("domain")
    )
    return dom.join(F.broadcast(blocked), "domain", "left_anti").select(
        "doc_id", "domain"
    )


# ================================================================ r12 births
# --- stage 1 with stage-0 normalization composed (r11 VERDICT ask #2) -------
# The crawl order production pipelines actually run: derive urls on the
# SAME single corpus projection that carries the (byte-variant-planted)
# text, normalize at stage 0, EXACT dedup keyed on the digest of the
# NORMALIZED text — the step raw-md5 pipelines get wrong
# (llm_normalize_dedup demonstrates the recovery in isolation; here it
# runs inside the composed chain, collapsing ~20% of the corpus's
# planted byte-variant family mass before any URL work) — then URL
# keep-first dedup over the canonical survivors, then the deterministic
# per-domain top-k. Digest-before-URL because this fixture's URL
# universe is many-to-one: running URL dedup first would collapse the
# families by URL accident and leave the digest stage nothing to prove.
@register(
    "llm_stage1_pipeline_norm",
    oracle=f"""
    WITH {_URL_DOCS_CTE},
    vdocs AS (SELECT doc_id, {_VARIANT_SQL} AS vtext FROM documents),
    norm AS (SELECT v.doc_id, u.url, {_norm_expr_sql("v.vtext")} AS ntext
             FROM vdocs v JOIN udocs u USING (doc_id)),
    dkept AS (SELECT MIN(doc_id) AS doc_id FROM norm GROUP BY md5(ntext)),
    s0 AS (SELECT n.* FROM norm n JOIN dkept USING (doc_id)),
    kept AS (SELECT MIN(doc_id) AS doc_id
             FROM (SELECT doc_id, {_NORM_SQL} AS nrm FROM s0)
             GROUP BY nrm),
    s2 AS (SELECT s.doc_id, s.url FROM s0 s JOIN kept k USING (doc_id)),
    h AS (SELECT doc_id, {_HOST_SQL} AS host FROM s2),
    dom AS (SELECT doc_id, {_DOMAIN_SQL} AS domain FROM h),
    rk AS (SELECT doc_id AS id, domain,
                  ROW_NUMBER() OVER (PARTITION BY domain
                      ORDER BY {_u32_sql("doc_id")}, doc_id) AS rk
           FROM dom)
    SELECT id, domain, CAST(rk AS BIGINT) AS rk
    FROM rk WHERE rk <= {_STAGE1_CAP}
    """,
    survey_ref="r11 VERDICT ask #2: stage-0 normalization COMPOSED into "
    "the stage-1 chain (new entry; llm_stage1_pipeline's oracle stays "
    "untouched) — normalize before any digest so byte-variant "
    "renderings cannot defeat exact dedup, then normalized-digest "
    "dedup, URL keep-first dedup, deterministic per-domain top-k. One "
    "corpus projection feeds text AND url (plan-gated single scan); "
    "the only Python is the one Arrow-batched NFC step",
    tags=("llm", "url", "text", "dedup", "pipeline"),
)
def llm_stage1_pipeline_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _with_url(_variant_texts(_docs(spark, sf_dir)))
    from pyspark.sql import Window

    norm = text.normalize_text(base, "vtext", out_col="ntext").drop("vtext")
    # keep-first stages as rank-1 windows, NOT agg + semi-join: the
    # self-join shape would plan the corpus subtree (and the Arrow NFC
    # step) twice; rank<=1 compiles to WindowGroupLimit on both sides
    # of each exchange, so the corpus is scanned once, the UDF runs
    # once, and every shuffle ships at most one row per group map-side.
    wd = Window.partitionBy("__digest").orderBy(F.col("doc_id").asc())
    s0 = (
        norm.withColumn("__digest", F.md5(F.col("ntext")))
        .withColumn("__rk", F.row_number().over(wd))
        .filter(F.col("__rk") == 1)
        .drop("__digest", "__rk", "ntext")
    )
    wu = Window.partitionBy("__nrm").orderBy(F.col("doc_id").asc())
    s2 = (
        s0.withColumn("__nrm", urls_mod.url_normalize(F.col("url")))
        .withColumn("__rk", F.row_number().over(wu))
        .filter(F.col("__rk") == 1)
        .select("doc_id", "url")
    )
    return urls_mod.domain_capped_topk(s2, "doc_id", "url", cap=_STAGE1_CAP)


def _register_stage1_psl_norm() -> None:
    from ..llm import psl

    @register(
        "llm_stage1_psl_norm",
        # the fully-upgraded stage-1: stage-0 normalization AND the
        # real-PSL registrable domain in ONE chain (r11 VERDICT asks
        # #2 + #3) — normalized-digest dedup between the URL pass and
        # the exact per-domain cap, domains grouped by the broadcast
        # rule dim over the host universe the 14-pair literal
        # mis-groups.
        oracle=f"""
        WITH {_PSL_URL_CTE},
        vdocs AS (SELECT doc_id, {_VARIANT_SQL} AS vtext FROM documents),
        norm AS (SELECT v.doc_id, u.url, {_norm_expr_sql("v.vtext")} AS ntext
                 FROM vdocs v JOIN pudocs u USING (doc_id)),
        dkept AS (SELECT MIN(doc_id) AS doc_id FROM norm GROUP BY md5(ntext)),
        s0 AS (SELECT n.* FROM norm n JOIN dkept USING (doc_id)),
        kept AS (SELECT MIN(doc_id) AS doc_id
                 FROM (SELECT doc_id, {_NORM_SQL} AS nrm FROM s0)
                 GROUP BY nrm),
        s2 AS (SELECT s.doc_id, s.url FROM s0 s JOIN kept k USING (doc_id)),
        hosts AS (SELECT doc_id, {_HOST_SQL} AS host FROM s2),
        {psl.psl_domain_sql("hosts").lstrip()},
        rk AS (SELECT doc_id AS id, domain,
                      ROW_NUMBER() OVER (PARTITION BY domain
                          ORDER BY {_u32_sql("doc_id")}, doc_id) AS rk
               FROM psldom)
        SELECT id, domain, CAST(rk AS BIGINT) AS rk
        FROM rk WHERE rk <= {_DOMAIN_CAP}
        """,
        survey_ref="r11 VERDICT asks #2+#3 composed: normalization AND "
        "the PSL broadcast dim inside one stage-1 chain — stage-0 "
        "normalize, normalized-digest dedup, URL keep-first dedup, "
        "registrable domain via the rule dim (wildcard/exception "
        "semantics), deterministic min(cap, n_d) top-k; plan keeps "
        "every piece's shape (broadcast rule probes, WindowGroupLimit "
        "both exchange sides, single Arrow NFC step)",
        tags=("llm", "url", "text", "dedup", "pipeline", "dim"),
    )
    def llm_stage1_psl_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyspark.sql import Window

        from ..llm.sampling import _u32

        base = _with_url_psl(_variant_texts(_docs(spark, sf_dir)))
        norm = text.normalize_text(base, "vtext", out_col="ntext").drop(
            "vtext"
        )
        # rank-1 windows instead of agg + semi-join (see
        # llm_stage1_pipeline_norm): single corpus scan, single Arrow
        # NFC step, WindowGroupLimit on every keep-first exchange
        wd = Window.partitionBy("__digest").orderBy(F.col("doc_id").asc())
        s0 = (
            norm.withColumn("__digest", F.md5(F.col("ntext")))
            .withColumn("__rk", F.row_number().over(wd))
            .filter(F.col("__rk") == 1)
            .drop("__digest", "__rk", "ntext")
        )
        wu = Window.partitionBy("__nrm").orderBy(F.col("doc_id").asc())
        s2 = (
            s0.withColumn("__nrm", urls_mod.url_normalize(F.col("url")))
            .withColumn("__rk", F.row_number().over(wu))
            .filter(F.col("__rk") == 1)
            .select("doc_id", "url")
        )
        h = s2.select("doc_id", urls_mod.host_of(F.col("url")).alias("host"))
        dom = psl.registrable_domain_psl(
            h, "host", psl.psl_rules_df(spark)
        ).select(F.col("doc_id").alias("id"), "domain")
        w = Window.partitionBy("domain").orderBy(
            _u32(F.col("id")).asc(), F.col("id").asc()
        )
        return (
            dom.withColumn("rk", F.row_number().over(w).cast("long"))
            .filter(F.col("rk") <= _DOMAIN_CAP)
            .select("id", "domain", "rk")
        )


_register_stage1_psl_norm()

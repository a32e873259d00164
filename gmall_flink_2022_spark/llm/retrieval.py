"""Keyword retrieval over the document corpus: inverted-index postings
and BM25 top-k search.

Spark-first shape (all JVM expressions, no Python):
- postings = explode(tokens) -> groupBy(doc, term): ONE shuffle builds
  the inverted index; document lengths and corpus stats ride the same
  persisted tokenized base, so the corpus is tokenized once.
- queries are tiny literal term lists -> broadcast semi-join prunes the
  postings to query terms BEFORE any df/score work: the scored relation
  is |matching postings|, not |corpus|.
- per-(query, doc) scores fold in sorted term order (array_sort ->
  F.aggregate with 0.0 seed), so the double sum is bit-identical across
  partitionings AND engines — the same convention as
  text.ngram_familiarity.

Scoring is the BM25 *rational-idf* variant: idf uses the odds ratio
(N - df + 0.5) / (df + 0.5) WITHOUT the usual log. Rationale: libm log
is not guaranteed correctly rounded and differs between the JVM and
DuckDB in the last ulp, which would break exact oracle hashing; every
operation here is +,-,*,/ on doubles derived from exact integers in a
fixed expression order, so scores are engine-exact. The log is a
monotone per-term dampening — rankings for single-term queries are
identical, multi-term rankings weight rare terms more sharply than
log-BM25 (documented operator contract, not an accident).

At 100 TB: postings and doc-length relations shuffle on their natural
keys once each; everything query-sized broadcasts; top-k is a per-query
window over the scored docs (bounded by |matching docs|, further
bounded upstream by the term prune).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..functions.tokenize import tokenize_col
from ..sources.io import local_frame

BM25_K1 = 1.2
BM25_B = 0.75


def bm25_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    queries: list[tuple[int, list[str]]],
    k: int = 5,
) -> DataFrame:
    """Top-k documents per query under rational-idf BM25.

    Returns (query_id, rnk, doc_id, n_matched, score), rnk 1..k per
    query, ties broken by doc_id ascending.
    """
    spark = df.sparkSession
    from .dedup import ensure_explode_parallelism

    base = (
        ensure_explode_parallelism(df)
        .select(F.col(id_col).alias("doc_id"), tokenize_col(text_col).alias("_toks"))
        .withColumn("dl", F.size("_toks"))
        .persist()
    )
    postings = (
        base.select("doc_id", "dl", F.explode("_toks").alias("term"))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    corpus = base.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_len")
    )
    qdf = local_frame(
        spark,
        [(qid, t) for qid, terms in queries for t in terms],
        "query_id long, term string",
    )
    sel = postings.join(F.broadcast(qdf), "term")
    dft = sel.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    # fixed expression order, mirrored verbatim in the SQL oracle
    avgdl = F.col("total_len").cast("double") / F.col("n_docs").cast("double")
    odds = (F.col("n_docs").cast("double") - F.col("df").cast("double") + F.lit(0.5)) / (
        F.col("df").cast("double") + F.lit(0.5)
    )
    tfd = F.col("tf").cast("double")
    tfn = (tfd * F.lit(BM25_K1 + 1.0)) / (
        tfd
        + F.lit(BM25_K1)
        * (F.lit(1.0 - BM25_B) + F.lit(BM25_B) * (F.col("dl").cast("double") / avgdl))
    )
    scored = (
        sel.join(F.broadcast(dft), "term")
        .crossJoin(F.broadcast(corpus))
        .select("query_id", "doc_id", "term", (odds * tfn).alias("tscore"))
    )
    agg = scored.groupBy("query_id", "doc_id").agg(
        F.count(F.lit(1)).alias("n_matched"),
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("term", "tscore"))),
                lambda s: s["tscore"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        agg.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "rnk", "doc_id", "n_matched", "score")
    )


def tfidf_keywords(
    df: DataFrame, id_col: str, text_col: str, k: int = 3
) -> DataFrame:
    """Top-k characteristic terms per document — TF-IDF keyword
    extraction, the document-side complement of :func:`bm25_topk`
    (which scores documents for a query; this scores terms for a
    document). Returns (doc_id, rnk, term, tf, df, score), rnk 1..k per
    doc, ties broken by term ascending.

    Scoring uses the same *rational-idf* convention as bm25_topk:
    score = tf * (N - df + 0.5) / (df + 0.5) — the log-free odds ratio,
    so every score is one multiply and one divide over doubles derived
    from exact integers (engine-exact, oracle-hashable). Rankings per
    document match log-TF-IDF wherever tf ties break on idf, and weight
    rare terms more sharply otherwise (documented contract).

    Scale shape: postings aggregate once (shuffle on (doc, term)),
    document frequencies aggregate on term, the scoring join shuffles
    postings on term once, and the top-k window partitions by doc_id —
    all natural keys, no collect, the corpus stats broadcast."""
    from .dedup import ensure_explode_parallelism

    base = (
        ensure_explode_parallelism(df)
        .select(F.col(id_col).alias("doc_id"), tokenize_col(text_col).alias("_toks"))
        .persist()
    )
    postings = (
        base.select("doc_id", F.explode("_toks").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dft = postings.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n = base.agg(F.count(F.lit(1)).alias("n_docs"))
    odds = (
        F.col("n_docs").cast("double") - F.col("df").cast("double") + F.lit(0.5)
    ) / (F.col("df").cast("double") + F.lit(0.5))
    scored = (
        postings.join(dft, "term")
        .crossJoin(F.broadcast(n))
        .withColumn("score", F.col("tf").cast("double") * odds)
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score"), F.asc("term")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("doc_id", "rnk", "term", "tf", "df", "score")
    )

"""Full BPE-merge tokenizer training (Sennrich et al. 2016), rendered
Spark-first as an iterative bulk-synchronous loop — the same discipline
as llm/graph.py PageRank: per-round lineage truncation, all data-sized
work distributed, only O(1) scalars on the driver.

Training state is the WORD-FREQUENCY symbol table, not the corpus: the
corpus collapses to (word, freq) once (one shuffle), and every merge
round then operates on rows (wid, freq, pos, sym) — the symbol sequence
of each distinct word. At 100 TB the corpus scan happens exactly once;
rounds scale with the (much smaller, bounded) word vocabulary.

Per round, ONE shuffle on wid covers everything: pair counting reads
lead(sym) over (wid, pos), and the merge transformation is three more
window passes over the SAME partitioning (match marking, island parity,
drop+renumber), so they pipeline without re-shuffling. The selected
pair is one row collected to the driver — the standard iterative-BSP
control scalar (cf. dup_clusters convergence checks), never data.

Greedy left-to-right merge semantics (what sentencepiece/HF do within a
word) are set-based via gaps-and-islands: positions where (sym, next) =
(a, b) form islands of CONSECUTIVE matches (only possible when a == b,
e.g. "aaaa" under (a,a)); within an island the 1st, 3rd, ... matches
take, and each taken match absorbs its following row. Bit-identical
across engines: counts are integer sums, ties break on (count DESC,
left, right) with binary string collation on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

from ..sources.io import local_frame

from .text import BPE_RE

BPE_DEFAULT_MERGES = 8


def word_freqs(df: DataFrame, text_col: str) -> DataFrame:
    """Corpus -> (word, freq) under the BPE-ish pre-tokenization
    (llm/text.py::BPE_RE — letter runs, digit runs, single punctuation).
    This is the ONE corpus-sized pass of training."""
    toks = F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(BPE_RE), 0)
    return (
        df.select(F.explode(toks).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _initial_symbols(wf: DataFrame) -> DataFrame:
    """(word, freq) -> one row per character: (wid, freq, pos, sym),
    pos 1-based. substring() is character-based on both engines."""
    chars = F.transform(
        F.sequence(F.lit(1), F.length("word")),
        lambda i: F.substring(F.col("word"), i, 1),
    )
    return wf.select(
        F.col("word").alias("wid"),
        "freq",
        F.posexplode(chars).alias("pos0", "sym"),
    ).select("wid", "freq", (F.col("pos0") + 1).alias("pos"), "sym")


def merge_step(syms: DataFrame, left: str, right: str) -> DataFrame:
    """Apply ONE merge (left, right) to a symbol table (wid, freq, pos,
    sym) with greedy left-to-right semantics. Pure window algebra over
    the (wid, pos) ordering — no Python, no extra shuffle beyond the
    wid partitioning the caller's pair count already established."""
    w = W.partitionBy("wid").orderBy("pos")
    d1 = syms.select(
        "wid",
        "freq",
        "pos",
        "sym",
        F.lead("sym").over(w).alias("nxt"),
        F.row_number().over(w).alias("rn"),
    ).withColumn(
        "mt",
        F.coalesce(
            (F.col("sym") == F.lit(left)) & (F.col("nxt") == F.lit(right)),
            F.lit(False),
        ),
    )
    w_m = W.partitionBy("wid", "mt").orderBy("pos")
    d2 = d1.withColumn("isl", F.col("rn") - F.row_number().over(w_m))
    w_i = W.partitionBy("wid", "mt", "isl").orderBy("pos")
    d3 = d2.withColumn(
        "take", F.col("mt") & (F.row_number().over(w_i) % 2 == 1)
    )
    d4 = d3.withColumn("ptk", F.lag("take").over(w)).filter(
        ~F.coalesce(F.col("ptk"), F.lit(False))
    )
    return d4.select(
        "wid",
        "freq",
        F.row_number().over(w).alias("pos"),
        F.when(F.col("take"), F.concat("sym", "nxt")).otherwise(F.col("sym")).alias(
            "sym"
        ),
    )


def _run_merges(
    syms: DataFrame, n_merges: int
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """The training loop: returns (merge list, final symbol table)."""
    w = W.partitionBy("wid").orderBy("pos")
    merges: list[tuple[int, str, str, int]] = []
    for step in range(1, n_merges + 1):
        top = (
            syms.select("wid", "freq", "sym", F.lead("sym").over(w).alias("nxt"))
            .filter(F.col("nxt").isNotNull())
            .groupBy("sym", "nxt")
            .agg(F.sum("freq").alias("n"))
            .orderBy(F.desc("n"), F.asc("sym"), F.asc("nxt"))
            .limit(1)
            .first()
        )
        if top is None:
            break
        merges.append((step, top["sym"], top["nxt"], top["n"]))
        # lazy checkpoint: lineage still truncates at first use, but the
        # round pays ONE action (the next round's top-pair collect
        # materializes it) instead of two — halves driver round-trips,
        # which dominate wall time for this vocabulary-sized state
        syms = merge_step(syms, top["sym"], top["nxt"]).localCheckpoint(
            eager=False
        )
    return merges, syms


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = BPE_DEFAULT_MERGES,
) -> DataFrame:
    """Train ``n_merges`` BPE merges over a corpus; returns the merge
    table (step, left_sym, right_sym, pair_count) — the artifact a BPE
    tokenizer ships. Stops early (fewer rows) if the corpus runs out of
    adjacent pairs. llm_bpe_pair_counts computes round 1's counting
    core; this iterates count -> argmax -> merge -> re-tokenize with a
    localCheckpoint per round so lineage stays O(1)-deep."""
    spark = df.sparkSession
    syms = _initial_symbols(word_freqs(df, text_col)).localCheckpoint(eager=True)
    merges, _ = _run_merges(syms, n_merges)
    return local_frame(
        spark, merges, "step long, left_sym string, right_sym string, pair_count long"
    )


def _encoded_vocab(final: DataFrame) -> DataFrame:
    """Final symbol table -> (word, freq, n_syms, encoded) with
    ``encoded`` the symbol sequence joined by '|'."""
    kept = F.array_sort(F.collect_list(F.struct("pos", "sym")))
    return (
        final.groupBy("wid", "freq")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_syms"),
            F.concat_ws(
                "|", F.transform(kept, lambda s: s["sym"])
            ).alias("encoded"),
        )
        .select(F.col("wid").alias("word"), "freq", "n_syms", "encoded")
    )


def bpe_encode(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = BPE_DEFAULT_MERGES,
) -> DataFrame:
    """Tokenizer INFERENCE with the merges trained on the same corpus:
    the encoded word vocabulary after ``n_merges`` rounds —
    (word, freq, n_syms, encoded) with ``encoded`` the symbol sequence
    joined by '|'. n_syms * freq summed over words is the corpus token
    count under the trained tokenizer (the fertility/compression
    statistic a tokenizer-training pipeline reports). Same loop, same
    scale shape as :func:`bpe_train`; encoding a DIFFERENT corpus with a
    shipped merge table is :func:`bpe_apply`."""
    wf = word_freqs(df, text_col)
    syms = _initial_symbols(wf).localCheckpoint(eager=True)
    _, final = _run_merges(syms, n_merges)
    return _encoded_vocab(final)


def bpe_apply(
    df: DataFrame,
    merges: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Encode a corpus with a SHIPPED merge table — the production
    tokenizer shape: train once (:func:`bpe_train`), apply everywhere.
    ``merges`` is the (step, left_sym, right_sym, ...) frame bpe_train
    returns (or a parquet of one); merges apply in ``step`` order, NO
    pair counting and NO argmax happen here — inference never looks at
    the corpus statistics, exactly like the reference's config-driven
    routing table applied to a stream
    (function/TableProcessFunction.java:62-80: the processing rules are
    a small precomputed table, the data just flows through them).

    OOV fallback is character-level and automatic by construction:
    initial symbols are single characters, and a character (or
    character pair) the training corpus never produced a merge for
    simply stays unmerged — unseen words encode as their character
    sequence, never error (Sennrich et al. 2016 §3.2's open-vocabulary
    property).

    Scale shape: the merge table is vocabulary-bounded (n_merges rows)
    and collects to the driver like any config table — the reference's
    broadcast-config discipline; the corpus-sized work is the one
    word_freqs pass plus ``n_merges`` window passes over the word
    table, all sharing the wid partitioning."""
    # bounded: the shipped artifact is n_merges rows. Sorted here, not
    # with orderBy: a Spark sort runs jobs even over a local relation
    rows = sorted(
        merges.select("step", "left_sym", "right_sym").collect(),
        key=lambda r: r["step"],
    )
    syms = _initial_symbols(word_freqs(df, text_col)).localCheckpoint(eager=True)
    for r in rows:
        syms = merge_step(syms, r["left_sym"], r["right_sym"]).localCheckpoint(
            eager=False
        )
    return _encoded_vocab(syms)


def _merge_apply_cte_sql(src: str, dst: str, mname: str, tname: str) -> str:
    """CTE text applying the pair selected by ``tname`` to symbol state
    ``src``, producing ``dst`` — the SQL twin of :func:`merge_step`
    (match -> greedy islands -> absorb + renumber), shared between the
    train chain (src=s{i}) and the held-out apply chain (src=a{i})."""
    return f"""{mname} AS MATERIALIZED (
        SELECT wid, freq, pos, sym, nxt,
               mt AND (ROW_NUMBER() OVER (PARTITION BY wid, mt, isl
                                          ORDER BY pos)) % 2 = 1 AS take
        FROM (
            SELECT *, rn - ROW_NUMBER() OVER (PARTITION BY wid, mt
                                              ORDER BY pos) AS isl
            FROM (
                SELECT wid, freq, pos, sym,
                       LEAD(sym) OVER (PARTITION BY wid ORDER BY pos) AS nxt,
                       ROW_NUMBER() OVER (PARTITION BY wid ORDER BY pos) AS rn,
                       COALESCE(sym = (SELECT sym FROM {tname})
                                AND LEAD(sym) OVER (PARTITION BY wid
                                                    ORDER BY pos)
                                    = (SELECT nxt FROM {tname}), FALSE) AS mt
                FROM {src}
            )
        )
    ),
    {dst} AS MATERIALIZED (
        SELECT wid, freq,
               CAST(ROW_NUMBER() OVER (PARTITION BY wid ORDER BY pos)
                    AS BIGINT) AS pos,
               CASE WHEN take THEN sym || nxt ELSE sym END AS sym
        FROM (
            SELECT *, LAG(take) OVER (PARTITION BY wid ORDER BY pos) AS ptk
            FROM {mname}
        ) WHERE NOT COALESCE(ptk, FALSE)
    )"""


def _wf_syms_cte_sql(wf: str, s1: str, where: str) -> str:
    """The corpus -> word-freq -> initial-symbols CTE pair over
    ``documents`` (optionally filtered)."""
    return f"""{wf} AS MATERIALIZED (
        SELECT word, COUNT(*) AS freq FROM (
            SELECT UNNEST(regexp_extract_all(lower(text), '{BPE_RE}')) AS word
            FROM documents{(" WHERE " + where) if where else ""}
        ) GROUP BY word
    ),
    {s1} AS MATERIALIZED (
        SELECT word AS wid, freq, CAST(i AS BIGINT) AS pos,
               substr(word, CAST(i AS INTEGER), 1) AS sym
        FROM {wf}, UNNEST(generate_series(1, length(word))) AS u(i)
    )"""


MERGES_TABLE = "bpe_merges"


def save_merges(store, merges: DataFrame) -> None:
    """Persist a trained merge table into a DimStore (pk = step) — the
    shipped-artifact half of the train-once/apply-everywhere story:
    training jobs upsert here, inference jobs :func:`load_merges` +
    :func:`bpe_apply` with no retraining (the same persisted-config
    discipline as the routing table the reference streams its rules
    from, function/TableProcessFunction.java:62-80)."""
    store.upsert(MERGES_TABLE, merges, pk="step")


def load_merges(store) -> DataFrame:
    """The persisted merge table, ready for :func:`bpe_apply`."""
    return store.read(MERGES_TABLE)


def _pair_argmax_cte_sql(src: str, p: str, t: str) -> str:
    """Count + argmax CTE pair over symbol state ``src``: ``p`` = pair
    frequencies, ``t`` = the one selected (count DESC, left, right) pair
    — the SQL twin of the top-pair collect in :func:`_run_merges`."""
    return f"""{p} AS MATERIALIZED (
        SELECT sym, nxt, SUM(freq) AS n FROM (
            SELECT freq, sym,
                   LEAD(sym) OVER (PARTITION BY wid ORDER BY pos) AS nxt
            FROM {src}
        ) WHERE nxt IS NOT NULL GROUP BY sym, nxt
    ),
    {t} AS MATERIALIZED (SELECT sym, nxt, n FROM {p} ORDER BY n DESC, sym, nxt LIMIT 1)"""


def _train_chain_sql(n_merges: int, where: str) -> list[str]:
    """The full training CTE chain wf, s1, (p{i}, t{i}, m{i}, s{i+1})*
    over ``documents`` (optionally filtered) — shared by the train and
    apply oracles so the greedy-merge SQL exists in exactly one place."""
    parts = [_wf_syms_cte_sql("wf", "s1", where)]
    for i in range(1, n_merges + 1):
        parts.append(
            _pair_argmax_cte_sql(f"s{i}", f"p{i}", f"t{i}")
            + ",\n    "
            + _merge_apply_cte_sql(f"s{i}", f"s{i + 1}", f"m{i}", f"t{i}")
        )
    return parts


def bpe_apply_oracle_sql(
    n_merges: int = BPE_DEFAULT_MERGES,
    train_where: str = "doc_id % 2 = 0",
    apply_where: str = "doc_id % 2 = 1",
) -> str:
    """DuckDB oracle for train-on-one-split / apply-to-the-other: the
    training chain (counts + argmax t{i} + merge) runs over the train
    split exactly as in :func:`bpe_train_oracle_sql`; the apply chain
    replays t1..t{n} over the HELD-OUT split's symbol table with no
    counting of its own — structurally the same no-statistics property
    the Spark :func:`bpe_apply` has."""
    parts = _train_chain_sql(n_merges, train_where)
    parts.append(_wf_syms_cte_sql("wfa", "a1", apply_where))
    for i in range(1, n_merges + 1):
        parts.append(
            _merge_apply_cte_sql(f"a{i}", f"a{i + 1}", f"ma{i}", f"t{i}")
        )
    selects = (
        f"SELECT wid AS word, freq, CAST(COUNT(*) AS BIGINT) AS n_syms, "
        f"string_agg(sym, '|' ORDER BY pos) AS encoded "
        f"FROM a{n_merges + 1} GROUP BY wid, freq"
    )
    return "WITH " + ",\n    ".join(parts) + "\n    " + selects


def bpe_train_oracle_sql(
    n_merges: int = BPE_DEFAULT_MERGES, final: str = "merges"
) -> str:
    """The DuckDB oracle: the SAME algebra with the loop unrolled into
    CTE chains s1 -> s2 -> ... (scalar subqueries select each round's
    top pair). Generated programmatically so Spark loop and SQL oracle
    cannot drift in structure. ``final='merges'`` selects the merge
    table (bpe_train); ``final='encoded'`` selects the encoded word
    vocabulary from the last symbol state (bpe_encode)."""
    # BPE_RE contains a literal backslash-s; SQL single-quoted strings do
    # not process backslash escapes, so it embeds verbatim on both
    # engines. The chain itself is generated by the SAME helpers the
    # apply oracle uses, so the greedy-merge SQL cannot drift between
    # the two oracles.
    parts = _train_chain_sql(n_merges, "")
    if final == "encoded":
        selects = (
            f"SELECT wid AS word, freq, CAST(COUNT(*) AS BIGINT) AS n_syms, "
            f"string_agg(sym, '|' ORDER BY pos) AS encoded "
            f"FROM s{n_merges + 1} GROUP BY wid, freq"
        )
    else:
        selects = " UNION ALL ".join(
            f"SELECT CAST({i} AS BIGINT) AS step, sym AS left_sym, "
            f"nxt AS right_sym, CAST(n AS BIGINT) AS pair_count FROM t{i}"
            for i in range(1, n_merges + 1)
        )
    return "WITH " + ",\n    ".join(parts) + "\n    " + selects

"""Full BPE-merge tokenizer training and inference (Sennrich et al.
2016), rendered Spark-first over the WORD-FREQUENCY table, not the
corpus: the corpus collapses to (word, freq) once (one shuffle), and
every later step is a projection over the distinct words. At 100 TB the
corpus scan happens exactly once; merge rounds scale with the (much
smaller, bounded) word vocabulary.

Each word's symbols are one ``array<string>`` column, and applying a
merge (L, R) is one ``aggregate`` fold over that array (:func:`_merge`):
the accumulator is (out, pending), where ``pending`` says the last
element of ``out`` is an unmerged L. On ``x == R`` with ``pending`` the
last element becomes L||R; otherwise ``x`` is appended and ``pending``
becomes ``x == L``. That is exactly greedy left-to-right merging within
a word (what sentencepiece/HF do): "aaaa" under (a, a) gives "aa|aa".
Applying a merge LIST is an outer ``aggregate`` over a literal
``array<struct<l, r>>`` with the fold inside it (:func:`apply_merges`),
so any number of merges is one projection per word and the plan depth
never grows. The fold is built with the Column API, so symbols such as
``'``, ``\\``, ``|`` or ``$`` need no escaping.

Training re-derives each round's state from the checkpointed initial
symbols with the merges chosen so far, counts adjacent pairs
(``zip_with`` over the array, explode, group by), and collects the one
top pair — the standard iterative-BSP control scalar, never data. Ties
break on (count DESC, left, right) with binary string collation on both
engines, and counts are integer sums, so merge tables are bit-identical
to the DuckDB oracle, which keeps the set-based gaps-and-islands form of
the same greedy rule (:func:`_merge_apply_cte_sql`).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, functions as F

from ..sources.io import local_frame

from .cachereg import stage
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


def symbols(word: Column) -> Column:
    """A word's initial symbols: its characters, as ``array<string>``.
    substring() is character-based on both engines."""
    return F.transform(
        F.sequence(F.lit(1), F.length(word)), lambda i: F.substring(word, i, 1)
    )


def _merge(syms: Column, left: Column, right: Column) -> Column:
    """Apply ONE merge (left, right) to a symbol array with greedy
    left-to-right semantics: one fold, accumulator (out, pending)."""
    def step(acc: Column, x: Column) -> Column:
        out = acc["out"]
        return F.when(
            acc["pending"] & (x == right),
            F.struct(
                F.concat(
                    F.slice(out, 1, F.size(out) - 1), F.array(F.concat(left, right))
                ).alias("out"),
                F.lit(False).alias("pending"),
            ),
        ).otherwise(
            F.struct(
                F.concat(out, F.array(x)).alias("out"), (x == left).alias("pending")
            )
        )

    start = F.struct(
        F.array().cast("array<string>").alias("out"), F.lit(False).alias("pending")
    )
    return F.aggregate(syms, start, step, lambda acc: acc["out"])


def apply_merges(syms: Column, merges: Sequence[tuple[str, str]]) -> Column:
    """Apply ``merges`` (in list order) to a symbol array: an outer fold
    over the merge list, given as a literal ``array<struct<l, r>>``,
    with :func:`_merge` inside it — one projection for any number of
    merges."""
    table = F.array(
        *[F.struct(F.lit(a).alias("l"), F.lit(b).alias("r")) for a, b in merges]
    ).cast("array<struct<l:string,r:string>>")
    return F.aggregate(table, syms, lambda s, m: _merge(s, m["l"], m["r"]))


def _word_symbols(df: DataFrame, text_col: str) -> DataFrame:
    """(word, freq, syms): the word table with each word's initial
    symbols — the state every merge round starts from."""
    return word_freqs(df, text_col).select(
        "word", "freq", symbols(F.col("word")).alias("syms")
    )


def _train(words: DataFrame, n_merges: int) -> list[tuple[int, str, str, int]]:
    """The training loop over a materialized (word, freq, syms) table:
    per round, the state is the merges so far applied to the initial
    symbols (constant plan depth, no per-round checkpoint), and one pair
    count collects the top (count DESC, left, right) pair. Stops early
    when no adjacent pair is left."""
    merges: list[tuple[int, str, str, int]] = []
    for step in range(1, n_merges + 1):
        s = apply_merges(F.col("syms"), [(a, b) for _, a, b, _ in merges])
        n = F.size("s") - 1
        top = (
            words.select("freq", s.alias("s"))
            .filter(n > 0)
            .select(
                "freq",
                F.explode(
                    F.zip_with(
                        F.slice("s", 1, n),
                        F.slice("s", 2, n),
                        lambda a, b: F.struct(a.alias("sym"), b.alias("nxt")),
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.sym").alias("sym"), F.col("p.nxt").alias("nxt"))
            .agg(F.sum("freq").alias("n"))
            .orderBy(F.desc("n"), F.asc("sym"), F.asc("nxt"))
            .limit(1)
            .first()
        )
        if top is None:
            break
        merges.append((step, top["sym"], top["nxt"], top["n"]))
    return merges


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = BPE_DEFAULT_MERGES,
) -> DataFrame:
    """Train ``n_merges`` BPE merges over a corpus; returns the merge
    table (step, left_sym, right_sym, pair_count) — the artifact a BPE
    tokenizer ships — as a driver-built local relation. Stops early
    (fewer rows) if the corpus runs out of adjacent pairs.
    llm_bpe_pair_counts computes round 1's counting core; this iterates
    count -> argmax -> re-encode over the word table, which is
    checkpointed once (``cachereg.stage``)."""
    merges = _train(stage(_word_symbols(df, text_col)), n_merges)
    return local_frame(
        df.sparkSession,
        merges,
        "step long, left_sym string, right_sym string, pair_count long",
    )


def _encoded(words: DataFrame, merges: Sequence[tuple[str, str]]) -> DataFrame:
    """(word, freq, syms) -> (word, freq, n_syms, encoded) with
    ``encoded`` the merged symbol sequence joined by '|'."""
    s = apply_merges(F.col("syms"), merges)
    return words.select("word", "freq", s.alias("s")).select(
        "word",
        "freq",
        F.size("s").cast("long").alias("n_syms"),
        F.concat_ws("|", "s").alias("encoded"),
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
    statistic a tokenizer-training pipeline reports). Same loop as
    :func:`bpe_train`, then one projection over the same checkpointed
    word table; encoding a DIFFERENT corpus with a shipped merge table is
    :func:`bpe_apply`."""
    words = stage(_word_symbols(df, text_col))
    merges = _train(words, n_merges)
    return _encoded(words, [(a, b) for _, a, b, _ in merges])


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
    broadcast-config discipline — and enters the plan as a literal. The
    corpus-sized work is the one word_freqs pass; the merges are one
    projection per distinct word (:func:`apply_merges`). The returned
    plan is lazy and reads nothing but ``df``: building it runs no job
    when ``merges`` is a local relation."""
    # bounded: the shipped artifact is n_merges rows. Sorted here, not
    # with orderBy: a Spark sort runs jobs even over a local relation
    rows = sorted(
        merges.select("step", "left_sym", "right_sym").collect(),
        key=lambda r: r["step"],
    )
    return _encoded(
        _word_symbols(df, text_col), [(r["left_sym"], r["right_sym"]) for r in rows]
    )


def _merge_apply_cte_sql(src: str, dst: str, mname: str, tname: str) -> str:
    """CTE text applying the pair selected by ``tname`` to symbol state
    ``src``, producing ``dst`` — the set-based SQL form of the greedy
    rule :func:`_merge` folds (match -> greedy islands -> absorb +
    renumber over one row per symbol), shared between the
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
    — the SQL twin of the top-pair collect in :func:`_train`."""
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

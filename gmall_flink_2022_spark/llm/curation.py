"""Corpus curation: the composed training-data pipeline — quality filter
-> exact dedup -> near-dup removal -> clean corpus. Each stage is one of
the engine's operators; the composition is itself an operator (and, being
pure DataFrame algebra, fully SQL-expressible for the oracle).

Single-materialization design: the corpus is scanned and tokenized ONCE;
the quality gate, the exact-dedup digest, and the shingle table all derive
from that one pass. The quality+exact survivors are persisted (on a
cluster: a checkpoint to reliable storage) because three downstream
consumers read them — MinHash signatures, Jaccard verification, and the
final anti-join. Before this restructuring each stage re-read the parquet
and re-ran the tokenizer regex (~4 corpus scans); now it is one scan plus
in-memory reuse, which is also the 100 TB-correct shape: tokenization is
the dominant CPU cost and must not be repeated per stage."""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.tokenize import tokenize_col
from .dedup import minhash_lsh_pairs_from_shingles, shingles
from .text import STOPWORDS

# The pipelines below return plans over registered intermediates
# (persisted by cachereg.track, or phase boundaries checkpointed by
# cachereg.stage), so they cannot free that storage in-function. Callers
# own the lifecycle: after materializing a pipeline's result, call
# cachereg.release_all().
from . import cachereg


def curate(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 10,
    max_stopword_ratio: float = 0.5,
    min_uniq_ratio: float = 0.2,
    jaccard_threshold: float = 0.4,
) -> DataFrame:
    """Returns the surviving (id) set with a `drop_reason`-free contract:
    a doc survives iff it (1) passes quality gates, (2) is the minimum-id
    representative of its exact-content group, and (3) is not the
    higher id of any near-dup pair among quality survivors.

    Near-dup removal by pairwise min-keep (not full clustering) — the
    conventional MinHash-dedup policy: every surviving pair has
    Jaccard < threshold.
    """
    # one scan, one tokenize: quality ratios are computed inline from the
    # shared token array (same expressions as llm.text.quality_score).
    toks = F.col("_toks")
    n = F.size(toks)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    n_uniq = F.size(F.array_distinct(toks))
    qdocs = (
        docs.select(
            F.col(id_col).alias("id"),
            F.col(text_col).alias("_text"),
            tokenize_col(text_col).alias("_toks"),
        )
        .filter(
            (n >= min_tokens)
            & (n_stop.cast("double") / n.cast("double") <= max_stopword_ratio)
            & (n_uniq.cast("double") / n.cast("double") >= min_uniq_ratio)
        )
    )
    # exact dedup on the content digest, min-id representative kept
    keep_exact = (
        qdocs.groupBy(F.md5("_text").alias("digest"))
        .agg(F.min("id").alias("id"))
        .select("id")
    )
    edocs = cachereg.track(qdocs.join(keep_exact, "id", "left_semi"))
    sh = cachereg.track(shingles(edocs, "id", "_text", tokens_col="_toks"))
    pairs = minhash_lsh_pairs_from_shingles(sh, threshold=jaccard_threshold)
    drop_near = pairs.select(F.col("id_b").alias("id")).distinct()
    return edocs.join(drop_near, "id", "left_anti").select("id")


def curate_full(
    docs: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 20,
    jaccard_threshold: float = 0.4,
    n_contam: int = 6,
) -> DataFrame:
    """The full modern curation pipeline, one plan over one corpus scan:

        paragraph-hash dedup (CCNet pass, keep-first, reassemble)
        -> Gopher rule filter on the cleaned text
        -> exact dedup (min-id representative per content digest)
        -> MinHash near-dup removal (pairwise min-keep)
        -> benchmark decontamination (shared-shingle semi-join)

    Returns surviving (id, clean_text). Every stage is one of the
    engine's oracle-verified operators; the composition chains them on
    the REWRITTEN text (paragraph removal changes tokenization for every
    downstream stage), which is exactly what the end-to-end oracle
    replays. Stage order mirrors production practice: structural cleanup
    first (paragraph dedup), then cheap row-local rules, then the
    exact/near dedup cascade, decontamination last (it must see final
    text).

    Scale shape: the exact-dedup survivors persist once and feed the
    shingle table and the near-dup anti-join; the near-dup survivors
    are a phase boundary (``cachereg.stage``), so building this plan
    runs everything up to and including MinHash near-dup removal, and
    the returned plan is the decontamination step over that leaf. The
    benchmark side broadcasts. No stage re-reads the source."""
    from .decontam import contaminated_ids
    from .dedup import minhash_lsh_pairs, paragraph_dedup
    from .text import gopher_filter

    cleaned = (
        paragraph_dedup(docs, id_col, text_col, window=window)
        .filter(F.col("clean_text") != "")
        .select("id", F.col("clean_text").alias("ctext"))
    )
    gkeep = (
        gopher_filter(cleaned, "id", "ctext")
        .filter(F.col("keep"))
        .select("id")
    )
    q = cleaned.join(gkeep, "id", "left_semi")
    keep_exact = (
        q.groupBy(F.md5("ctext").alias("digest"))
        .agg(F.min("id").alias("id"))
        .select("id")
    )
    e = cachereg.track(q.join(keep_exact, "id", "left_semi"))
    # e holds exactly one row per md5(ctext) digest, so its duplicate
    # fraction is 0 by construction: no HLL pre-dedup probe
    pairs = minhash_lsh_pairs(
        e, "id", "ctext", threshold=jaccard_threshold, pre_dedup=False
    )
    drop_near = pairs.select(F.col("id_b").alias("id")).distinct()
    # stage() (r16): the near-dup survivors are the pipeline's widest
    # fan-out point (decontamination shingles, the final anti-join, and
    # every consumer training_shards adds) — plan-truncate here or the
    # analyzed tree doubles per consumer (measured: the shards manifest
    # reached 10,682 analyzed nodes and ~7 s of per-action driver
    # analysis; guide §3.3). Placement measured against staging e /
    # packed-only / samp-only variants — (d, samp, packed) won.
    d = cachereg.stage(e.join(drop_near, "id", "left_anti"))
    # 6-gram contamination test (the GPT-3 13-gram filter's spirit; 3-grams
    # over this synthetic 64-word vocabulary collide on unrelated docs)
    bad = contaminated_ids(
        d, bench.select(F.col(id_col).alias("id"), F.col(text_col).alias("ctext")),
        "id", "ctext", n=n_contam,
    )
    return (
        d.join(bad.withColumnRenamed("id", "__bad"), d["id"] == F.col("__bad"), "left_anti")
        .select("id", F.col("ctext").alias("clean_text"))
    )


def training_shards(
    docs: DataFrame,
    bench: DataFrame,
    lang_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 20,
    rates: dict[str, float] | None = None,
    default: float = 0.2,
    seq_len: int = 512,
    n_shards: int = 8,
) -> DataFrame:
    """The composed training-shard export — the artifact a training run
    actually consumes, as one plan over a single corpus scan:

        curate_full (paragraph dedup -> Gopher -> exact dedup ->
                     MinHash near-dup -> decontamination)
        -> language-mixture downsample (deterministic Bernoulli per
           lang; docs with no metadata row fall to the default rate)
        -> sequence packing on the CHAINED clean text (shard-local
           running token offsets, seq_len cuts)
        -> deterministic global shuffle order (TeraSort-style ranking)

    Returns (id, shard, seq_id, tok_offset, n_tokens, lang,
    shuffle_rank) — the shard manifest; the registry entry writes it
    shard-partitioned and reads it back (the consumer layout). Every
    stage operates on the text the previous stage produced, which is
    exactly what the end-to-end oracle replays. Building it runs three
    phase boundaries (``cachereg.stage``): curate_full's near-dup
    survivors, the mixture sample and the packed rows; the returned
    plan is the manifest joins over those leaves. The mixture/pack/
    shuffle stages add one window shuffle (pack) + two id-grain joins
    over the (small) surviving set — at 100 TB the corpus-sized work
    all happens before the sample gate."""
    from .packing import sequence_pack
    from .sampling import mixture_sample, shuffle_order

    surv = curate_full(docs, bench, id_col, text_col, window=window)
    lng = (
        surv.join(lang_df, surv["id"] == lang_df[id_col], "left")
        .select(
            surv["id"],
            "clean_text",
            F.coalesce(lang_df["lang"], F.lit("unknown")).alias("lang"),
        )
    )
    # stage() x2 (r16, guide §3.3): samp feeds the pack AND the final
    # lang join; packed feeds the shuffle ranking AND the manifest join
    # — without truncation the manifest tree quadruples samp's (2,659 ->
    # 10,682 analyzed nodes) and every bench rep re-analyzed it all
    samp = cachereg.stage(
        mixture_sample(lng, "lang", "id", rates or {"en": 0.5, "zh": 1.0}, default)
    )
    packed = cachereg.stage(
        sequence_pack(samp, "id", "clean_text", seq_len=seq_len, n_shards=n_shards)
    )
    ordered = shuffle_order(packed.select("id"), "id")
    return packed.join(samp.select("id", "lang"), "id").join(ordered, "id")


def curate_ccnet(
    docs: DataFrame,
    ref: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 20,
    max_bits_q256: int = 1280,
) -> DataFrame:
    """The CCNet pipeline (Wenzek et al. 2020) in its published stage
    order, one lazy plan:

        paragraph-hash dedup (keep-first, reassemble)
        -> bigram-LM perplexity gate against a reference corpus
           (the wiki-KenLM stage; keep fluent docs)
        -> exact dedup (min-id representative per content digest)

    The LM gate is the engine-exact integer form: keep iff
    ``cost_q256 <= max_bits_q256 * n_bigrams`` — the quantized
    bits-per-token threshold compared in pure integer arithmetic
    (max_bits_q256 = bits * 256; 1280 = 5.0 bits/token). Documents whose
    cleaned text has fewer than two tokens carry no LM evidence and are
    dropped (fail closed), matching CCNet's behavior on empty lines.

    Returns surviving (id, clean_text). Scale shape: the cleaned
    survivors feed the LM probe and the digest dedup; the LM count
    tables are pre-reduced aggregates of the reference; nothing
    re-reads the source."""
    from .dedup import paragraph_dedup
    from .lm import lm_perplexity

    # three consumers read the cleaned survivors (the LM probe, the
    # fluent semi-join, the digest dedup) — persist once, same move as
    # curate()/curate_full() above. (r16: measured a stage() variant —
    # cleaned's tree is only ~41 nodes, so truncation bought nothing and
    # the per-build checkpoint materialization cost ~0.8 s; reverted.)
    cleaned = cachereg.track(
        paragraph_dedup(docs, id_col, text_col, window=window)
        .filter(F.col("clean_text") != "")
        .select("id", F.col("clean_text").alias("ctext"))
    )
    refn = ref.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("ctext")
    )
    ppl = lm_perplexity(cleaned, refn, "id", "ctext")
    fluent_ids = ppl.filter(
        F.col("cost_q256") <= max_bits_q256 * F.col("n_bigrams")
    ).select("id")
    fluent = cleaned.join(fluent_ids, "id", "left_semi")
    keep_exact = (
        fluent.groupBy(F.md5("ctext").alias("digest"))
        .agg(F.min("id").alias("id"))
        .select("id")
    )
    return fluent.join(keep_exact, "id", "left_semi").select(
        "id", F.col("ctext").alias("clean_text")
    )

"""Property-based tests (hypothesis): rewrite equivalences and operator
invariants hold on arbitrary inputs, not just the fixtures."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from gmall_flink_2022_spark.operators.dwm import bounce_detect_batch, interval_join
from gmall_flink_2022_spark.operators.skew import salted_agg

rows_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),  # key (few keys -> collisions)
        st.integers(min_value=-1000, max_value=1000),  # value
    ),
    min_size=1,
    max_size=50,
)


@settings(max_examples=8, deadline=None)
@given(rows_strategy)
def test_salted_agg_equivalence(spark, rows):
    df = spark.createDataFrame(rows, "k int, v long")
    direct = {
        (r["k"], r["s"], r["n"])
        for r in df.groupBy("k")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    salted = {
        (r["k"], r["s"], r["n"])
        for r in salted_agg(df, ["k"], {"v": "s"}, count_alias="n", buckets=4).collect()
    }
    assert direct == salted


events_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),  # user
        st.integers(min_value=0, max_value=100),  # ts seconds
        st.booleans(),  # is_entry
    ),
    min_size=1,
    max_size=30,
)


@settings(max_examples=8, deadline=None)
@given(events_strategy)
def test_bounce_invariants(spark, events):
    rows = [
        (i, u, f"2024-01-01 00:{t // 60:02d}:{t % 60:02d}", e)
        for i, (u, t, e) in enumerate(events)
    ]
    df = (
        spark.createDataFrame(rows, "event_id long, u long, cts string, is_entry boolean")
        .withColumn("ts", F.to_timestamp("cts"))
        .drop("cts")
    )
    out = bounce_detect_batch(
        df, "u", "ts", F.col("is_entry"), gap_seconds=10, tiebreak="event_id"
    ).collect()
    emitted = {r["event_id"] for r in out}
    by_id = {i: (u, t, e) for i, (u, t, e) in enumerate(events)}
    # every emitted event is an entry event
    assert all(by_id[i][2] for i in emitted)
    # the last entry event of every user is always emitted (no successor)
    per_user_order = {}
    for i, (u, t, e) in enumerate(events):
        per_user_order.setdefault(u, []).append((t, i, e))
    for u, evs in per_user_order.items():
        evs.sort()
        entries = [i for _, i, e in evs if e]
        if entries and evs[-1][1] == entries[-1]:
            assert entries[-1] in emitted


pairs_strategy = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 59)), min_size=1, max_size=20
)


@settings(max_examples=8, deadline=None)
@given(pairs_strategy, pairs_strategy)
def test_interval_join_equals_naive(spark, left, right):
    l = spark.createDataFrame(
        [(i, k, f"2024-01-01 00:00:{t:02d}") for i, (k, t) in enumerate(left)],
        "lid long, k long, cts string",
    ).withColumn("lts", F.to_timestamp("cts")).drop("cts")
    r = spark.createDataFrame(
        [(i, k, f"2024-01-01 00:00:{t:02d}") for i, (k, t) in enumerate(right)],
        "rid long, rk long, cts string",
    ).withColumn("rts", F.to_timestamp("cts")).drop("cts")
    joined = interval_join(
        l, r, l["k"] == r["rk"], l["lts"], r["rts"], -5, 5
    ).select("lid", "rid")
    got = {(x["lid"], x["rid"]) for x in joined.collect()}
    want = {
        (li, ri)
        for li, (lk, lt) in enumerate(left)
        for ri, (rk, rt) in enumerate(right)
        if lk == rk and lt - 5 <= rt <= lt + 5
    }
    assert got == want

# ---------------------------------------------------------------- round 2

def _lexicon_alphabet():
    """Every character of every lexicon word plus fallback chars, so
    hypothesis strings exercise the full expanded dictionary (nested
    compounds, shared prefixes) and non-dictionary fallback."""
    from gmall_flink_2022_spark.functions.tokenize import CJK_LEXICON

    return sorted({ch for w in CJK_LEXICON for ch in w} | set("壳膜的买X"))


_cjk_chars = st.sampled_from(_lexicon_alphabet())
_cjk_text = st.text(alphabet=_cjk_chars, min_size=0, max_size=20)


@settings(max_examples=200, deadline=None)
@given(_cjk_text)
def test_fmm_segment_properties(s):
    """FMM invariants on arbitrary CJK strings over the lexicon alphabet:
    segments concatenate back to the input, every multi-char segment is a
    dictionary word, and no two adjacent segments could have been a
    longer dictionary match at the left position (greedy maximality)."""
    from gmall_flink_2022_spark.functions.tokenize import (
        CJK_LEXICON,
        _CJK_MAXLEN,
        fmm_segment,
    )

    segs = fmm_segment(s)
    assert "".join(segs) == s
    pos = 0
    for seg in segs:
        assert len(seg) == 1 or seg in CJK_LEXICON
        # greedy: no strictly longer lexicon word starts at pos
        for ln in range(len(seg) + 1, min(_CJK_MAXLEN, len(s) - pos) + 1):
            assert s[pos : pos + ln] not in CJK_LEXICON
        pos += len(seg)


@settings(max_examples=8, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=10**9), min_size=1,
                max_size=60, unique=True))
def test_train_val_test_split_partitions(spark, ids):
    """The split is a partition (disjoint + complete) and is a pure
    function of the id: re-running yields identical assignments."""
    from gmall_flink_2022_spark.llm.sampling import train_val_test_split

    df = spark.createDataFrame([(i,) for i in ids], "id long")
    a = {r["id"]: r["split"] for r in train_val_test_split(df, "id").collect()}
    b = {r["id"]: r["split"] for r in train_val_test_split(df, "id").collect()}
    assert a == b
    assert set(a) == set(ids)
    assert set(a.values()) <= {"train", "val", "test"}


@settings(max_examples=8, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 500), st.integers(0, 500)),
                min_size=1, max_size=40))
def test_dup_clusters_matches_union_find(spark, pairs):
    """Large-star/small-star output equals a reference union-find on
    arbitrary small graphs (self-loops dropped by the operator)."""
    from gmall_flink_2022_spark.llm.dedup import dup_clusters

    clean = [(a, b) for a, b in pairs if a != b]
    if not clean:
        return
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in clean:
        parent[find(a)] = find(b)
    want = {}
    nodes = {n for p in clean for n in p}
    roots: dict[int, int] = {}
    for n in sorted(nodes):
        r = find(n)
        roots.setdefault(r, n)  # min node per component (sorted order)
        want[n] = roots[r]
    df = spark.createDataFrame(clean, "id_a long, id_b long")
    got = {r["id"]: r["cluster_id"] for r in dup_clusters(df).collect()}
    assert got == want


@settings(max_examples=10, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=40), min_size=1, max_size=40))
def test_sequence_pack_tiles_shards(spark, token_counts):
    """For arbitrary corpora: per shard, offsets are contiguous in id
    order (no gaps/overlaps), empty docs vanish, seq_id is the
    seq_len-quotient of the offset."""
    from gmall_flink_2022_spark.llm.packing import sequence_pack

    rows = [(i, " ".join(f"w{j}" for j in range(n))) for i, n in enumerate(token_counts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = sequence_pack(df, "doc_id", "text", seq_len=7, n_shards=3).collect()
    assert {r["id"] for r in out} == {i for i, n in enumerate(token_counts) if n > 0}
    nxt = {}
    for r in sorted(out, key=lambda r: (r["shard"], r["id"])):
        assert r["tok_offset"] == nxt.get(r["shard"], 0)
        assert r["seq_id"] == r["tok_offset"] // 7
        nxt[r["shard"]] = r["tok_offset"] + r["n_tokens"]


@settings(max_examples=10, deadline=None)
@given(st.integers(min_value=0, max_value=60))
def test_chunk_overlap_covers_all_tokens(spark, n_tokens):
    """Chunks tile [0, n): first starts at 0, strides are exact, union
    of [start, end) covers every token index, last end == n."""
    from gmall_flink_2022_spark.llm.packing import chunk_overlap

    df = spark.createDataFrame(
        [(1, " ".join(f"w{j}" for j in range(n_tokens)))], "doc_id long, text string"
    )
    out = sorted(
        (r["tok_start"], r["tok_end"])
        for r in chunk_overlap(df, "doc_id", "text", chunk_size=10, overlap=4).collect()
    )
    if n_tokens == 0:
        assert out == []
        return
    assert out[0][0] == 0
    assert out[-1][1] == n_tokens
    covered = set()
    for s, e in out:
        covered.update(range(s, e))
    assert covered == set(range(n_tokens))


@settings(max_examples=8, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=10**9), min_size=1,
                max_size=60, unique=True),
       st.floats(min_value=0.05, max_value=0.5),
       st.floats(min_value=0.5, max_value=0.95))
def test_hash_samples_are_nested(spark, ids, f_small, f_big):
    """Threshold sampling on a shared hash universe nests: the f1-sample
    is a subset of the f2-sample whenever f1 <= f2 — the property that
    makes sample-size changes incremental instead of a reshuffle."""
    from gmall_flink_2022_spark.llm.sampling import hash_sample

    df = spark.createDataFrame([(i,) for i in ids], "id long")
    small = {r["id"] for r in hash_sample(df, "id", f_small).collect()}
    big = {r["id"] for r in hash_sample(df, "id", f_big).collect()}
    assert small <= big


@settings(max_examples=6, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=10**9), min_size=1,
                max_size=50, unique=True))
def test_shuffle_order_is_stable_permutation(spark, ids):
    """shuffle_order yields a permutation of 1..n, identical across
    runs, and uncorrelated with the unsalted sampling hash order (the
    salt's whole job)."""
    from gmall_flink_2022_spark.llm.sampling import shuffle_order

    df = spark.createDataFrame([(i,) for i in ids], "id long")
    a = {r["id"]: r["shuffle_rank"] for r in shuffle_order(df, "id").collect()}
    b = {r["id"]: r["shuffle_rank"] for r in shuffle_order(df, "id").collect()}
    assert a == b
    assert sorted(a.values()) == list(range(1, len(ids) + 1))


zint = st.integers(min_value=0, max_value=(1 << 16) - 1)


@settings(max_examples=6, deadline=None)
@given(st.lists(st.tuples(zint, zint), min_size=1, max_size=40))
def test_zorder_key_interleave_roundtrip(spark, pairs):
    """The Spark Morton key equals the reference Python interleave, and
    de-interleaving recovers the inputs exactly (bijectivity on the
    16-bit x 2 domain)."""
    from gmall_flink_2022_spark.operators.layout import zorder_key

    def ref(a: int, b: int) -> int:
        z = 0
        for i in range(16):
            z |= ((a >> i) & 1) << (2 * i)
            z |= ((b >> i) & 1) << (2 * i + 1)
        return z

    def deinterleave(z: int) -> tuple[int, int]:
        a = b = 0
        for i in range(16):
            a |= ((z >> (2 * i)) & 1) << i
            b |= ((z >> (2 * i + 1)) & 1) << i
        return a, b

    df = spark.createDataFrame(pairs, "a long, b long")
    got = df.select("a", "b", zorder_key(["a", "b"]).alias("z")).collect()
    for r in got:
        assert r["z"] == ref(r["a"], r["b"])
        assert deinterleave(r["z"]) == (r["a"], r["b"])


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from(["w1", "w2", "w3", "w4"]), min_size=1, max_size=12),
        min_size=2,
        max_size=12,
    )
)
def test_bm25_score_tf_monotonicity(spark, docs):
    """Within one query term, among equal-length docs, score strictly
    increases with term frequency (the saturation curve is monotone) —
    and every score is positive."""
    from gmall_flink_2022_spark.llm.retrieval import bm25_topk

    rows = [(i, " ".join(words)) for i, words in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = bm25_topk(df, "doc_id", "text", [(0, ["w1"])], k=len(docs)).collect()
    assert all(r["score"] > 0 for r in out)
    by_doc = {r["doc_id"]: r["score"] for r in out}
    lens = {i: len(words) for i, words in enumerate(docs)}
    tfs = {i: words.count("w1") for i, words in enumerate(docs)}
    for i in by_doc:
        for j in by_doc:
            if lens[i] == lens[j] and tfs[i] > tfs[j]:
                assert by_doc[i] > by_doc[j], (i, j)


words = st.sampled_from(["alpha", "beta", "gamma", "delta", "x9"])


@settings(max_examples=6, deadline=None)
@given(st.lists(st.lists(words, min_size=1, max_size=30), min_size=1, max_size=12))
def test_paragraph_dedup_properties(spark, docs):
    """(1) Untouched docs reassemble to exactly the original text
    (segmentation is lossless); (2) removals are bounded by the
    duplicate-segment surplus; (3) when the first pass removes nothing,
    a second pass is a no-op (idempotence on already-clean corpora —
    note a REMOVING pass can shift window boundaries, so idempotence is
    only guaranteed from a clean state)."""
    from gmall_flink_2022_spark.llm.dedup import paragraph_dedup

    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = paragraph_dedup(df, "doc_id", "text", window=4)
    got = {r["id"]: r for r in out.collect()}
    for i, _txt in rows:
        if got[i]["n_removed"] == 0:
            assert got[i]["clean_text"] == rows[i][1]
        assert 0 <= got[i]["n_removed"] <= got[i]["n_segments"]
    if all(r["n_removed"] == 0 for r in got.values()):
        again = paragraph_dedup(df, "doc_id", "text", window=4).collect()
        assert all(r["n_removed"] == 0 for r in again)


# --- BPE greedy-merge equivalence -----------------------------------------
def _py_greedy_merge(word: list[str], a: str, b: str) -> list[str]:
    """Reference greedy left-to-right BPE merge (what sentencepiece/HF
    do within a word)."""
    out, i = [], 0
    while i < len(word):
        if i + 1 < len(word) and word[i] == a and word[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(word[i])
            i += 1
    return out


_bpe_words = st.lists(
    st.text(alphabet="ab", min_size=1, max_size=10),  # tiny alphabet ->
    min_size=1,                                       # dense overlaps
    max_size=12,
)
# the same dense two-letter words, spelled in symbols that SQL text or a
# regex would need to escape
_BPE_ALPHABETS = ["ab", "'\\", "|$"]


@settings(max_examples=8, deadline=None)
@given(_bpe_words, st.sampled_from(["a", "b"]), st.sampled_from(["a", "b"]))
def test_bpe_merge_step_equals_python_greedy(spark, words, left, right):
    """The array-fold merge must agree with the sequential greedy
    reference on arbitrary words — including the overlap-heavy a==b runs
    — in every alphabet, quote, backslash, '|' and '$' included."""
    from gmall_flink_2022_spark.llm.bpe import apply_merges, symbols
    from gmall_flink_2022_spark.sources.io import local_frame

    for alphabet in _BPE_ALPHABETS:
        tr = str.maketrans("ab", alphabet)
        ws = list(dict.fromkeys(w.translate(tr) for w in words))
        lt, rt = left.translate(tr), right.translate(tr)
        merged = local_frame(spark, [(w,) for w in ws], "word string").select(
            "word", apply_merges(symbols(F.col("word")), [(lt, rt)]).alias("seq")
        )
        got = {r["word"]: r["seq"] for r in merged.collect()}
        for w in ws:
            assert got[w] == _py_greedy_merge(list(w), lt, rt), (w, lt, rt)


# --------------------------------------------------------- prefix filtering
_word = st.sampled_from(["alpha", "beta", "gamma", "delta", "eps", "zeta",
                         "eta", "theta"])
_doc = st.lists(_word, min_size=1, max_size=8).map(" ".join)


@settings(max_examples=6, deadline=None)
@given(st.lists(_doc, min_size=2, max_size=10))
def test_prefix_jaccard_equals_bruteforce(spark, texts):
    """The zero-recall-loss theorem, property-checked: prefix filtering
    must return EXACTLY the brute-force all-pairs answer at the same
    threshold, on arbitrary small corpora (unigram shingles so tiny docs
    still have a shingle set)."""
    from gmall_flink_2022_spark.llm.dedup import (
        ngram_jaccard_pairs,
        prefix_jaccard_pairs,
    )

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    brute = ngram_jaccard_pairs(
        df, "doc_id", "text", n=1, threshold=0.6, max_shingle_df=None,
        pre_dedup=False,
    )
    fast = prefix_jaccard_pairs(df, "doc_id", "text", n=1, threshold_pct=60)
    key = lambda r: (r["id_a"], r["id_b"])  # noqa: E731
    assert {key(r): r["common"] for r in brute.collect()} == {
        key(r): r["common"] for r in fast.collect()
    }


# ------------------------------------------------------------------ k-core
def _py_kcore(edges, k):
    es = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    while True:
        deg = {}
        for a, b in es:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        bad = {v for v, d in deg.items() if d < k}
        if not bad:
            return deg
        nxt = {e for e in es if e[0] not in bad and e[1] not in bad}
        if nxt == es:
            return deg
        es = nxt


@settings(max_examples=8, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 12), st.integers(0, 12)),
                min_size=1, max_size=40))
def test_k_core_matches_reference_peel(spark, pairs):
    from gmall_flink_2022_spark.llm.graph import k_core

    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = {r["id"]: r["deg"] for r in k_core(df, k=2, max_rounds=20).collect()}
    want = _py_kcore(pairs, 2)
    assert got == want


# -------------------------------------------------------- decay score state
@settings(max_examples=8, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 3), st.floats(0, 1000)),
                min_size=1, max_size=60))
def test_decay_batch_formula_reference(spark, rows):
    """The batch window rendering equals a direct python fold of the
    same integer arithmetic (floor cents, power-of-two weights, K=16)."""
    from pyspark.sql import Window as W
    import math

    data = [(i, f"2024-01-01 00:00:{i % 60:02d}", u, v)
            for i, (u, v) in enumerate(rows)]
    ev = spark.createDataFrame(
        data, "event_id long, ts string, user_id long, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    r = ev.select(
        "user_id",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
        F.row_number().over(
            W.partitionBy("user_id").orderBy(
                F.col("ts").desc(), F.col("event_id").desc()
            )
        ).alias("rn"),
    ).filter(F.col("rn") <= 16)
    got = {
        row["user_id"]: row["num"]
        for row in r.groupBy("user_id").agg(
            F.sum(
                F.col("cents") * F.call_function(
                    "shiftleft", F.lit(1).cast("long"),
                    (16 - F.col("rn")).cast("int"))
            ).alias("num")
        ).collect()
    }
    want = {}
    per_user = {}
    for i, (u, v) in enumerate(data := [(u, v) for (u, v) in rows]):
        per_user.setdefault(u, []).append((i, v))
    for u, evs in per_user.items():
        newest_first = sorted(evs, key=lambda t: (t[0] % 60, t[0]), reverse=True)[:16]
        want[u] = sum(
            math.floor(v * 100) * (1 << (15 - j))
            for j, (_, v) in enumerate(newest_first)
        )
    assert got == want


_url_strategy = st.lists(
    st.builds(
        lambda scheme, sub, body, tld, path, slash, query, frag, upcase: (
            f"{scheme}://"
            + (f"{sub}." if sub else "")
            + (body.upper() if upcase else body)
            + f".{tld}/{path}"
            + ("/" if slash else "")
            + (f"?{query}" if query else "")
            + (f"#{frag}" if frag else "")
        ),
        st.sampled_from(["http", "https", "HTTPS", "Ftp"]),
        st.sampled_from(["", "www", "a.b", "CDN"]),
        st.text(alphabet="abcdefgXYZ09-", min_size=1, max_size=8).filter(
            lambda s: s.strip("-")
        ),
        st.sampled_from(["com", "org", "co.uk", "io"]),
        st.text(alphabet="AbCd01/._-", min_size=0, max_size=12),
        st.booleans(),
        # query values ending in '/' exercise the r10 rule: the strip
        # is suppressed whenever a '?' is present
        st.sampled_from(["", "q=1", "next=/", "a=/b//", "x=1/"]),
        st.sampled_from(["", "top", "Sec-2"]),
        st.booleans(),
    ),
    min_size=1,
    max_size=12,
)


@settings(max_examples=8, deadline=None)
@given(_url_strategy)
def test_url_normalize_idempotent_and_host_stable(spark, urls):
    """url_normalize is IDEMPOTENT (a second pass is a no-op — the
    property that makes keep-first dedup safe to re-run over already-
    normalized URLs) and host/domain extraction is invariant under
    normalization."""
    from gmall_flink_2022_spark.llm import urls as U

    df = spark.createDataFrame([(i, u) for i, u in enumerate(urls)],
                               "id long, url string")
    one = U.url_normalize(F.col("url"))
    out = df.select(
        one.alias("n1"),
        U.url_normalize(one).alias("n2"),
        U.registrable_domain(U.host_of(F.col("url"))).alias("d_raw"),
        U.registrable_domain(U.host_of(one)).alias("d_norm"),
    ).collect()
    for r in out:
        assert r["n1"] == r["n2"], (r["n1"], r["n2"])
        assert r["d_raw"] == r["d_norm"], (r["d_raw"], r["d_norm"])


_event_funnel_strategy = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=5),          # user
        st.integers(min_value=0, max_value=2880),       # minute over 2 days
        st.sampled_from(["view", "click", "purchase", "error"]),
    ),
    min_size=1,
    max_size=40,
)


@settings(max_examples=8, deadline=None)
@given(_event_funnel_strategy)
def test_funnel_matches_python_recompute(spark, rows):
    """ads_funnel_conversion's min-ts chaining == a direct per-user-day
    python fold over the sorted events, on arbitrary event sets (ties,
    missing stages, multi-day users)."""
    import datetime as dt
    import os
    import shutil
    import tempfile

    from gmall_flink_2022_spark.plans.registry import REGISTRY

    base = dt.datetime(2024, 3, 1)
    data = [
        (i, base + dt.timedelta(minutes=m), u, t, 1.0, "{}")
        for i, (u, m, t) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        data,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    d = tempfile.mkdtemp(prefix="gmall_funnel_prop_")
    try:
        df.write.parquet(os.path.join(d, "events.parquet"))
        got = {
            r["dt"]: (r["n_view"], r["n_click_after_view"],
                      r["n_purchase_after_click"])
            for r in REGISTRY["ads_funnel_conversion"].fn(spark, d).collect()
        }
    finally:
        shutil.rmtree(d, ignore_errors=True)

    per = {}
    for _i, (u, m, t) in enumerate(rows):
        ts = base + dt.timedelta(minutes=m)
        per.setdefault((u, ts.date()), []).append((ts, t))
    want: dict = {}
    for (u, day), evs in per.items():
        views = [ts for ts, t in evs if t == "view"]
        if not views:
            continue
        tv = min(views)
        clicks = [ts for ts, t in evs if t == "click" and ts > tv]
        tc = min(clicks) if clicks else None
        purch = (
            [ts for ts, t in evs if t == "purchase" and ts > tc]
            if tc is not None else []
        )
        k = str(day)
        v, c, p = want.get(k, (0, 0, 0))
        want[k] = (v + 1, c + (1 if tc is not None else 0),
                   p + (1 if purch else 0))
    assert got == want
    # structural funnel invariant: each stage never exceeds the previous
    for v, c, p in got.values():
        assert v >= c >= p


@settings(max_examples=8, deadline=None)
@given(_event_funnel_strategy)
def test_retention_matches_python_recompute(spark, rows):
    """ads_retention_cohorts == the direct python cohort triangle, and
    its structural invariants hold: offset 0 carries the full cohort,
    per-cohort totals equal that cohort's distinct (user, day) pairs."""
    import datetime as dt
    import os
    import shutil
    import tempfile

    from gmall_flink_2022_spark.plans.registry import REGISTRY

    base = dt.datetime(2024, 3, 1)
    data = [
        (i, base + dt.timedelta(minutes=m), u, t, 1.0, "{}")
        for i, (u, m, t) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        data,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    d = tempfile.mkdtemp(prefix="gmall_ret_prop_")
    try:
        df.write.parquet(os.path.join(d, "events.parquet"))
        got = {
            (r["cohort_dt"], r["day_offset"]): r["n_active"]
            for r in REGISTRY["ads_retention_cohorts"].fn(spark, d).collect()
        }
    finally:
        shutil.rmtree(d, ignore_errors=True)

    first: dict = {}
    act = set()
    for _i, (u, m, t) in enumerate(rows):
        day = (base + dt.timedelta(minutes=m)).date()
        act.add((u, day))
        first[u] = min(first.get(u, day), day)
    want: dict = {}
    for u, day in act:
        k = (str(first[u]), (day - first[u]).days)
        want[k] = want.get(k, 0) + 1
    assert got == want
    cohort_sizes = {}
    for u, f in first.items():
        cohort_sizes[str(f)] = cohort_sizes.get(str(f), 0) + 1
    for cdt, n in cohort_sizes.items():
        assert got.get((cdt, 0)) == n  # day 0 == full cohort


@settings(max_examples=8, deadline=None)
@given(_url_strategy)
def test_url_dedup_partition_invariants(spark, urls):
    """url_dedup is a PARTITION of the input: dup_cts sum to the row
    count, keep_id is the minimum id of its group, and re-running dedup
    over already-normalized URLs is a no-op (idempotence riding the
    normalization property)."""
    from gmall_flink_2022_spark.llm import urls as U

    df = spark.createDataFrame(
        [(i, u) for i, u in enumerate(urls)], "id long, url string"
    )
    out = U.url_dedup(df, "id", "url").collect()
    assert sum(r["dup_ct"] for r in out) == len(urls)
    norm = {
        r["id"]: r["n"]
        for r in df.select(
            "id", U.url_normalize(F.col("url")).alias("n")
        ).collect()
    }
    groups: dict = {}
    for i, _u in enumerate(urls):
        groups.setdefault(norm[i], []).append(i)
    assert {r["norm_url"]: (r["keep_id"], r["dup_ct"]) for r in out} == {
        k: (min(v), len(v)) for k, v in groups.items()
    }
    # dedup over the survivors' normalized urls changes nothing
    surv = df.filter(
        F.col("id").isin([r["keep_id"] for r in out])
    ).select("id", U.url_normalize(F.col("url")).alias("url"))
    again = U.url_dedup(surv, "id", "url").collect()
    assert {(r["norm_url"], r["keep_id"]) for r in again} == {
        (r["norm_url"], r["keep_id"]) for r in out
    }
    assert all(r["dup_ct"] == 1 for r in again)


_psl_host_strategy = st.lists(
    st.builds(
        lambda labels: ".".join(labels),
        st.lists(
            st.sampled_from(
                ["www", "a", "b7", "city", "shop", "k12", "ma", "us",
                 "kawasaki", "jp", "ck", "com", "sg", "co", "uk", "za",
                 "example", "bd", "x-y"]
            ),
            min_size=1,
            max_size=6,
        ),
    ),
    min_size=1,
    max_size=25,
)


def _psl_ref_domain(host: str) -> str:
    """Independent python rendering of the published PSL algorithm —
    the property oracle for the Spark expression tree."""
    from gmall_flink_2022_spark.llm.psl import MAX_RULE_LABELS, PSL_RULES

    rules = dict(PSL_RULES)
    labels = host.split(".")
    n = len(labels)
    exc, best = None, 1
    for k in range(1, MAX_RULE_LABELS + 1):
        if n < k:
            break
        kind = rules.get(".".join(labels[-k:]))
        if kind == "x":
            exc = k
        elif kind == "n":
            best = max(best, k)
        elif kind == "w" and n >= k + 1:
            best = max(best, k + 1)
    ps = (exc - 1) if exc is not None else best
    return host if n <= ps else ".".join(labels[-(ps + 1):])


@settings(max_examples=8, deadline=None)
@given(_psl_host_strategy)
def test_psl_domain_matches_python_reference(spark, hosts):
    """registrable_domain_psl (3 broadcast joins + a CASE tree) equals
    the direct python PSL fold on arbitrary hosts built from rule-
    adjacent labels — wildcard children, exception descendants, deep
    normal rules, bare suffixes, unknown TLDs."""
    from gmall_flink_2022_spark.llm import psl

    df = spark.createDataFrame(
        [(i, h) for i, h in enumerate(hosts)], "id long, host string"
    )
    out = psl.registrable_domain_psl(df, "host", psl.psl_rules_df(spark))
    got = {(r["id"], r["host"]): r["domain"] for r in out.collect()}
    for (i, h), d in got.items():
        assert d == _psl_ref_domain(h), (h, d, _psl_ref_domain(h))
    assert len(got) == len(hosts)


_funnel_fold_strategy = st.tuples(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=30),  # ts (tiny domain -> ties)
            st.sampled_from(["view", "click", "purchase", "error"]),
        ),
        min_size=0,
        max_size=30,
    ),
    st.lists(st.integers(min_value=0, max_value=30), max_size=6),  # cut points
)


@settings(max_examples=300, deadline=None)
@given(_funnel_fold_strategy)
def test_funnel_fold_partition_invariant(case):
    """THE lossless-prune theorem behind the streaming funnel
    (streaming/funnel_state.py::_fold_batch): folding ANY partition of
    an event multiset — any batch boundaries, any arrival order —
    yields the same final (tv, tc, tp) chain as folding everything at
    once. This is exactly why a late earlier view can always be
    recovered from the pruned buffers."""
    from gmall_flink_2022_spark.streaming.funnel_state import (
        _chain,
        _fold_batch,
    )

    events, cuts = case
    # one-shot fold = ground truth
    tv0, c0, p0 = _fold_batch(None, [], [], events)
    want = (tv0, *_chain(tv0, c0, p0))
    # partitioned fold at arbitrary cut points
    bounds = sorted({c for c in cuts if c <= len(events)})
    pieces, prev = [], 0
    for b in bounds + [len(events)]:
        pieces.append(events[prev:b])
        prev = b
    tv, cl, pu = None, [], []
    for piece in pieces:
        tv, cl, pu = _fold_batch(tv, cl, pu, piece)
    got = (tv, *_chain(tv, cl, pu))
    assert got == want, (events, bounds, got, want)
    # the bounded-state claim: buffers never exceed the distinct
    # pre-anchor timestamps of their type
    tc, tp = _chain(tv, cl, pu)
    if tc is not None:
        assert all(c <= tc for c in cl)
    if tp is not None:
        assert all(p <= tp for p in pu)


@settings(max_examples=300, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 50)),  # (u, id) ties
        max_size=40,
    ),
    st.lists(st.integers(min_value=0, max_value=40), max_size=5),  # cuts
    st.integers(min_value=1, max_value=6),  # cap
)
def test_topk_merge_partition_invariant(pairs, cuts, cap):
    """streaming/topk_state.py::_merge_topk — folding ANY partition of
    the (u, id) multiset, with truncation to cap applied at EVERY step,
    equals the single global sorted-set-truncate: per-step truncation
    never loses a final winner."""
    from gmall_flink_2022_spark.streaming.topk_state import _merge_topk

    want = sorted(set(pairs))[:cap]
    bounds = sorted({c for c in cuts if c <= len(pairs)})
    state, prev = [], 0
    for b in bounds + [len(pairs)]:
        state = _merge_topk(state, pairs[prev:b], cap)
        prev = b
    assert state == want, (pairs, bounds, cap, state, want)
    assert len(state) <= cap


# --------------------------------------------------------------------------
# r11: stage-0 text normalization — Spark pipeline vs an independent
# python rendering, idempotence, and the DuckDB-oracle NFC parity the
# llm_text_normalize entry relies on, all on adversarial unicode.
# --------------------------------------------------------------------------
_norm_text_strategy = st.lists(
    st.text(
        alphabet=(
            "ab XY09.?!"
            "é"        # precomposed e-acute
            "é"       # decomposed pair members (combining acute)
            "ö"       # combining diaeresis
            "\u00a0"    # NBSP
            "\t\n\r\x0c"    # ASCII whitespace
            "\x00\x07\x1f\x7f"  # C0 controls + DEL
        ),
        max_size=24,
    ),
    min_size=1,
    max_size=12,
)


def _norm_ref(t: str) -> str:
    """Independent python rendering of normalize_text's contract.
    Strip BEFORE NFC: the order is load-bearing (see normalize_text's
    docstring — this test found the strip-after-NFC idempotence hole)."""
    import re
    import unicodedata

    t = re.sub("[\x00-\x1f\x7f]", "", t)
    t = unicodedata.normalize("NFC", t)
    t = re.sub("[ \t\n\r\x0c\u00a0]+", " ", t)
    return t.strip(" ")  # Spark/DuckDB trim strips ASCII space only


@settings(max_examples=8, deadline=None)
@given(_norm_text_strategy)
def test_normalize_text_matches_reference_and_idempotent(spark, texts):
    """normalize_text == the python reference on every input, a second
    pass is a no-op (NFC is idempotent; the collapse output holds no
    collapsible runs; controls are gone after one pass), and DuckDB's
    nfc_normalize — the oracle side of llm_text_normalize — agrees with
    unicodedata's NFC on the same strings."""
    import duckdb

    from gmall_flink_2022_spark.llm import text as T

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id long, raw string"
    )
    once = T.normalize_text(df, "raw", out_col="n1")
    twice = T.normalize_text(once, "n1", out_col="n2")
    out = {r["id"]: (r["raw"], r["n1"], r["n2"]) for r in twice.collect()}
    con = duckdb.connect()
    for i, t in enumerate(texts):
        raw, n1, n2 = out[i]
        assert n1 == _norm_ref(t), (repr(t), repr(n1), repr(_norm_ref(t)))
        assert n2 == n1, (repr(t), repr(n1), repr(n2))
        # oracle-side parity on what the oracle actually feeds NFC: the
        # control-STRIPPED string (DuckDB's nfc_normalize C-string-
        # truncates on NUL bytes — this test found that too; the
        # strip-first order keeps NULs out of it on both engines)
        import re
        import unicodedata

        s = re.sub("[\x00-\x1f\x7f]", "", t)
        duck = con.execute("select nfc_normalize(?)", [s]).fetchone()[0]
        assert duck == unicodedata.normalize("NFC", s), repr(t)


_daymap_strategy = st.dictionaries(
    st.integers(min_value=0, max_value=40000),  # epoch day
    st.tuples(
        st.one_of(st.none(), st.integers(min_value=0, max_value=10**15)),
        st.lists(st.integers(min_value=0, max_value=10**15), max_size=8),
        st.lists(st.integers(min_value=0, max_value=10**15), max_size=8),
    ),
    max_size=12,
)


@settings(max_examples=300, deadline=None)
@given(_daymap_strategy)
def test_funnel_daymap_codec_roundtrip(daymap):
    """r12 per-user keying: the day -> (tv, clicks, purch) state map is
    flattened into parallel + offset arrays for the Arrow state schema
    (streaming/funnel_state.py). An off-by-one in the offset arrays
    would silently splice one day's buffer into its neighbor — the
    round-trip must reproduce the map exactly (tv None <-> the -1
    sentinel included), for any number of days and any buffer shapes,
    including empty buffers between non-empty ones."""
    from gmall_flink_2022_spark.streaming.funnel_state import (
        _decode_daymap,
        _encode_daymap,
    )

    got = _decode_daymap(_encode_daymap(daymap))
    want = {
        d: (tv, list(cl), list(pu)) for d, (tv, cl, pu) in daymap.items()
    }
    assert got == want
    # offsets invariant: both offset arrays carry len(days)+1 entries
    days, tvs, cf, co, pf, po = _encode_daymap(daymap)
    assert len(co) == len(days) + 1 and len(po) == len(days) + 1
    assert co[-1] == len(cf) and po[-1] == len(pf)


# (id, bucket) memberships: few buckets so collisions and hot buckets are
# common; ids may appear in several buckets (the multi-slice case)
bucket_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=60),  # id
        st.integers(min_value=0, max_value=3),   # bucket (hot by design)
    ),
    min_size=1,
    max_size=80,
    unique=True,
)


@settings(max_examples=8, deadline=None)
@given(bucket_rows, st.integers(min_value=1, max_value=9))
def test_bucket_block_cells_pairset_identity(spark, rows, cap):
    """r13: the block-matrix de-skew is output-IDENTICAL for any bucket
    multiplicity and any cap — every unordered same-bucket pair appears
    in exactly one cell, and no cell side exceeds the cap. r14: the
    join runs through _cell_self_join, the SAME composition every call
    site uses (r13 VERDICT: the gate used to cover the cell builder but
    not the hand-copied join predicate). The generator emits unique
    (id, bucket) memberships — the helper's documented precondition."""
    from gmall_flink_2022_spark.llm.dedup import (
        _bucket_block_cells,
        _cell_self_join,
    )

    parts = spark.createDataFrame(rows, "id long, bucket int")
    joined = _cell_self_join(parts, cap).collect()
    got = [(r["id_a"], r["id_b"], r["bucket"]) for r in joined]
    assert len(got) == len(set(got)), "a pair landed in two cells"
    by_bucket: dict[int, list[int]] = {}
    for i, b in rows:
        by_bucket.setdefault(b, []).append(i)
    want = {
        (min(x, y), max(x, y), b)
        for b, ids in by_bucket.items()
        for xi, x in enumerate(ids)
        for y in ids[xi + 1 :]
    }
    assert set(got) == want
    left, right = _bucket_block_cells(parts, cap)
    for side in (left, right):
        mx = (
            side.groupBy("bucket", "_i", "_j")
            .count()
            .agg(F.max("count"))
            .first()[0]
        )
        assert mx <= cap


@settings(max_examples=6, deadline=None)
@given(bucket_rows, st.integers(min_value=1, max_value=9))
def test_cell_self_join_asymmetric_reorients_payload(spark, rows, cap):
    """r14 VERDICT nit #2: _cell_self_join's payload orientation follows
    the JOIN sides — fine for the four symmetric-predicate callers, but
    nothing stopped a future asymmetric-predicate caller from reading
    c_a as id_a's value. symmetric=False now re-orients per pair; with
    payload == id the invariant is directly checkable: c_a must ALWAYS
    equal id_a (and c_b equal id_b), for any bucket multiplicity and
    any cap. The default (symmetric=True) plan emits the same pair set
    with {c_a, c_b} == {id_a, id_b} per row but no orientation promise
    — both facts asserted so a regression in either mode trips."""
    from gmall_flink_2022_spark.llm.dedup import _cell_self_join

    parts = spark.createDataFrame(
        [(i, b, i) for i, b in rows], "id long, bucket int, pay long"
    )
    orient = _cell_self_join(parts, cap, symmetric=False).collect()
    assert all(
        r["pay_a"] == r["id_a"] and r["pay_b"] == r["id_b"] for r in orient
    )
    default = _cell_self_join(parts, cap).collect()
    assert all(
        {r["pay_a"], r["pay_b"]} == {r["id_a"], r["id_b"]} for r in default
    )
    # same pair set either way
    key = lambda rs: sorted((r["id_a"], r["id_b"], r["bucket"]) for r in rs)  # noqa: E731
    assert key(orient) == key(default)

"""Operator unit tests on gmall-shaped JSON fixtures (FIXTURES.md §1-§5) —
the reference semantics the TPC-H-ish star schema cannot express: dirty
split, display explode, CDC routing + column pruning, interval-join bounds,
new/old visitor fix."""

from __future__ import annotations

import json

from pyspark.sql import Row, functions as F

from gmall_flink_2022_spark.operators.dwd import (
    prune_columns,
    route_cdc,
    split_log_streams,
)
from gmall_flink_2022_spark.operators.dwm import interval_join
from gmall_flink_2022_spark.sources.cdc import filter_deletes, parse_cdc
from gmall_flink_2022_spark.sources.logs import clean_logs, dirty_logs, parse_logs

LOG_LINES = [
    # start log
    json.dumps(
        {
            "common": {"mid": "mid_1", "is_new": "1", "ch": "appstore", "ar": "110000", "vc": "v2"},
            "start": {"entry": "icon", "open_ad_id": 3, "loading_time": 1200},
            "ts": 1718000000000,
        }
    ),
    # page log with displays
    json.dumps(
        {
            "common": {"mid": "mid_1", "is_new": "0", "ch": "web", "ar": "110000", "vc": "v2"},
            "page": {"page_id": "good_detail", "last_page_id": "search", "item": "11",
                     "item_type": "sku_id", "during_time": 12000},
            "displays": [
                {"display_type": "promotion", "item": "3", "item_type": "sku_id", "order": 1, "pos_id": 2},
                {"display_type": "query", "item": "5", "item_type": "sku_id", "order": 2, "pos_id": 1},
            ],
            "ts": 1718000005000,
        }
    ),
    # page log without displays
    json.dumps(
        {
            "common": {"mid": "mid_2", "is_new": "1", "ch": "web", "ar": "310000", "vc": "v3"},
            "page": {"page_id": "home", "last_page_id": None, "during_time": 3000},
            "ts": 1718000007000,
        }
    ),
    "{broken json!!",  # dirty
]


def test_log_parse_dirty_split_and_fanout(spark):
    raw = spark.createDataFrame([Row(value=s) for s in LOG_LINES])
    parsed = parse_logs(raw)
    clean, dirty = clean_logs(parsed), dirty_logs(parsed)
    assert clean.count() == 3
    assert dirty.count() == 1  # the broken line routed to the dirty sink

    streams = split_log_streams(clean)
    assert streams["start"].count() == 1
    assert streams["page"].count() == 2
    disp = streams["display"].orderBy("order").collect()
    assert len(disp) == 2  # exploded per display item
    assert disp[0]["page_id"] == "good_detail"  # display enriched w/ page_id
    assert disp[0]["item"] == "3" and disp[1]["item"] == "5"


CDC_LINES = [
    json.dumps({"database": "gmall-flink", "tableName": "order_info",
                "before": {}, "after": {"id": "1", "user_id": "7", "total_amount": "99.50",
                                         "secret": "x"}, "type": "create"}),
    json.dumps({"database": "gmall-flink", "tableName": "order_info",
                "before": {}, "after": {"id": "2", "user_id": "8", "total_amount": "10.00"},
                "type": "delete"}),
    json.dumps({"database": "gmall-flink", "tableName": "user_info",
                "before": {}, "after": {"id": "7", "gender": "F", "birthday": "1990-01-01"},
                "type": "insert"}),
    json.dumps({"database": "gmall-flink", "tableName": "unrouted_tbl",
                "before": {}, "after": {"id": "9"}, "type": "insert"}),
]

CONFIG_ROWS = [
    ("order_info", "insert", "kafka", "dwd_order_info", "id,user_id,total_amount", "id", None),
    ("user_info", "insert", "hbase", "dim_user_info", "id,gender,birthday", "id", None),
]


def test_cdc_route_prune(spark):
    raw = spark.createDataFrame([Row(value=s) for s in CDC_LINES])
    cdc = parse_cdc(raw)
    # create normalized to insert (CustomerDeserialization.java:56-58)
    assert cdc.filter(F.col("type") == "create").count() == 0
    live = filter_deletes(cdc)
    assert live.count() == 3

    cfg = spark.createDataFrame(
        CONFIG_ROWS,
        "source_table string, operate_type string, sink_type string, "
        "sink_table string, sink_columns string, sink_pk string, sink_extend string",
    )
    routed = route_cdc(live, cfg)
    rows = {r["tableName"]: r for r in routed.collect()}
    assert set(rows) == {"order_info", "user_info"}  # unrouted dropped
    assert rows["order_info"]["sink_type"] == "kafka"
    assert rows["user_info"]["sink_table"] == "dim_user_info"

    pruned = prune_columns(routed)
    oi = pruned.filter(F.col("tableName") == "order_info").collect()[0]
    # 'secret' not in sink_columns -> pruned (TableProcessFunction.java:133-139)
    assert set(oi["after"].keys()) == {"id", "user_id", "total_amount"}


def test_interval_join_bounds(spark):
    oi = spark.createDataFrame(
        [(1, "2024-01-01 00:00:10"), (2, "2024-01-01 00:01:00")],
        "id long, create_time string",
    ).withColumn("o_ts", F.to_timestamp("create_time"))
    od = spark.createDataFrame(
        [
            (10, 1, "2024-01-01 00:00:07"),  # -3s: inside [-5, +5]
            (11, 1, "2024-01-01 00:00:15"),  # +5s boundary: inside
            (12, 1, "2024-01-01 00:00:16"),  # +6s: outside -> dropped
            (13, 2, "2024-01-01 00:00:54"),  # -6s: outside -> dropped
        ],
        "id long, order_id long, create_time string",
    ).withColumn("d_ts", F.to_timestamp("create_time"))
    joined = interval_join(
        oi, od, oi["id"] == od["order_id"], oi["o_ts"], od["d_ts"], -5, 5
    )
    got = sorted(r[0] for r in joined.select(od["id"]).collect())
    assert got == [10, 11]


def test_new_old_visitor_fix(spark):
    """W4: the reference marks a claimed-new visitor as old if its mid was
    seen before (BaseLogApp.java:48-71). Batch rendering: first-ever event
    per mid keeps is_new, later events force is_new='0'."""
    from pyspark.sql import Window as W

    df = spark.createDataFrame(
        [("m1", "1", 1000), ("m1", "1", 2000), ("m2", "0", 1500), ("m3", "1", 900)],
        "mid string, is_new string, ts long",
    )
    w = W.partitionBy("mid").orderBy("ts")
    fixed = df.withColumn(
        "is_new_fixed",
        F.when(F.row_number().over(w) == 1, F.col("is_new")).otherwise(F.lit("0")),
    )
    got = {(r["mid"], r["ts"]): r["is_new_fixed"] for r in fixed.collect()}
    assert got[("m1", 1000)] == "1" and got[("m1", 2000)] == "0"
    assert got[("m2", 1500)] == "0" and got[("m3", 900)] == "1"


def test_multimodal_plumbing(spark):
    from gmall_flink_2022_spark.llm.multimodal import extract_features, frame_sample

    rows = [
        (1, "image", b"\x01\x02\x03fakejpg", "image/jpeg", 4, 4, None),
        (2, "video", b"\x09fakemp4", "video/mp4", 16, 16, 3500),
        (3, "audio", None, "audio/wav", None, None, 2000),
    ]
    media = spark.createDataFrame(
        rows,
        "media_id long, kind string, payload binary, mime string, "
        "width int, height int, duration_ms long",
    )
    feats = {r["media_id"]: r for r in extract_features(media).collect()}
    assert len(feats) == 3
    assert feats[1]["n_bytes"] == 10 and len(feats[1]["feature"]) == 8
    assert feats[3]["n_bytes"] == 0  # null payload -> zero bytes, md5 of b""
    # determinism: same payload -> same feature
    again = {r["media_id"]: r for r in extract_features(media).collect()}
    assert feats[1]["feature"] == again[1]["feature"]

    frames = frame_sample(media, every_ms=1000).collect()
    assert [f["frame_ms"] for f in frames] == [0, 1000, 2000, 3000]  # 3.5s video

    import pytest

    with pytest.raises(NotImplementedError):
        extract_features(media, decode="pil")


def test_dup_clusters_fixture(spark):
    from gmall_flink_2022_spark.llm.dedup import dup_clusters

    # components: {1,2,3} via 1-2, 2-3; {7,9}; singleton edges only appear
    # in the pair list, so isolated docs are out of scope by construction
    pairs = spark.createDataFrame(
        [(2, 3), (1, 2), (7, 9)], "id_a long, id_b long"
    )
    got = {(r["id"], r["cluster_id"]) for r in dup_clusters(pairs).collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (7, 7), (9, 7)}


def test_dup_clusters_chain(spark):
    from gmall_flink_2022_spark.llm.dedup import dup_clusters

    # long chain needs multiple propagation rounds: 10-9-8-...-1
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 10)], "id_a long, id_b long"
    )
    got = {r["cluster_id"] for r in dup_clusters(pairs).collect()}
    assert got == {1}


def test_knn_ivf_recall(spark, sf_dir):
    """IVF ANN has no SQL oracle (centroid placement is the approximation);
    the contract is recall against the exact brute-force top-k."""
    from gmall_flink_2022_spark.llm.similarity import knn_bruteforce, knn_ivf
    from gmall_flink_2022_spark.sources.io import read_table

    embs = read_table(spark, sf_dir, "embeddings")
    queries = embs.filter(F.col("vec_id") < 10)
    bf = {
        (r["query_id"], r["neighbor_id"])
        for r in knn_bruteforce(embs, queries, "vec_id", "embedding", k=5).collect()
    }
    ivf = {
        (r["query_id"], r["neighbor_id"])
        for r in knn_ivf(
            embs, queries, "vec_id", "embedding", k=5, n_cells=10, n_probe=3
        ).collect()
    }
    assert len(bf & ivf) / len(bf) >= 0.7  # probing 3/10 cells


def test_knn_ivf_sampled_training_bounded(spark, sf_dir):
    """The k-means quantizer must fit on a bounded seeded sample — the
    fit input size is capped at train_max regardless of corpus size
    (VERDICT r2 #4) — and quantizing from the sample must not collapse
    recall."""
    from gmall_flink_2022_spark.llm.similarity import (
        _ivf_features,
        _ivf_train_set,
        knn_bruteforce,
        knn_ivf,
    )
    from gmall_flink_2022_spark.sources.io import read_table

    embs = read_table(spark, sf_dir, "embeddings")
    feat = _ivf_features(
        embs.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("c_vec"),
        )
    )
    n = feat.count()
    cap = max(8, n // 4)  # force the sampled path on any corpus size
    train = _ivf_train_set(feat, train_max=cap, seed=42)
    assert train.count() <= cap
    # determinism: same seed + input -> same training set
    ids_a = sorted(r["neighbor_id"] for r in train.select("neighbor_id").collect())
    ids_b = sorted(
        r["neighbor_id"]
        for r in _ivf_train_set(feat, train_max=cap, seed=42)
        .select("neighbor_id")
        .collect()
    )
    assert ids_a == ids_b

    queries = embs.filter(F.col("vec_id") < 10)
    bf = {
        (r["query_id"], r["neighbor_id"])
        for r in knn_bruteforce(embs, queries, "vec_id", "embedding", k=5).collect()
    }
    ivf = {
        (r["query_id"], r["neighbor_id"])
        for r in knn_ivf(
            embs, queries, "vec_id", "embedding",
            k=5, n_cells=10, n_probe=3, train_max=cap,
        ).collect()
    }
    assert len(bf & ivf) / len(bf) >= 0.4  # contract bound from a 25% sample


def test_embedding_near_dups_lsh_recall(spark, sf_dir):
    """LSH-blocked embedding dedup: pair recall vs the exact all-pairs
    scan at the same cosine threshold (blocking is the approximation;
    every emitted pair is exactly verified, so precision is 1.0).

    Runs over the PLANTED corpus (each vector + a ~0.995-cosine twin):
    the raw synthetic embeddings are near-orthogonal, so the raw-table
    version of this assertion was vacuously true."""
    from gmall_flink_2022_spark.llm.similarity import (
        cosine,
        embedding_near_dups_lsh,
    )
    from gmall_flink_2022_spark.plans.llm_plans import _embs_planted

    embs = _embs_planted(spark, sf_dir)
    a = embs.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = embs.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    exact = {
        (r["id_a"], r["id_b"])
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("sim", cosine(F.col("va"), F.col("vb")))
        .filter(F.col("sim") >= 0.9)
        .collect()
    }
    assert len(exact) >= 400  # non-vacuous: the planted pairs exist
    got = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dups_lsh(embs, threshold=0.9).collect()
    }
    assert got <= exact  # exact verification -> no false positives
    assert len(got & exact) / len(exact) >= 0.8


def test_asof_join_semantics(spark):
    from gmall_flink_2022_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, "k", 100), (2, "k", 200), (3, "k", 50), (4, "z", 10)],
        "lid long, k string, ts long",
    )
    right = spark.createDataFrame(
        [("k", 100, "at100"), ("k", 150, "at150")], "k string, ts long, v string"
    )
    out = {
        r["lid"]: (r["asof_ts"], r["asof_v"])
        for r in asof_join(
            left, right, on="k", left_ts="ts", right_ts="ts", right_payload=["v"]
        ).collect()
    }
    assert out[1] == (100, "at100")   # inclusive: equal ts matches
    assert out[2] == (150, "at150")   # latest prior, not first
    assert out[3] == (None, None)     # nothing at-or-before -> null (left join)
    assert out[4] == (None, None)     # key never seen on right
    inner = asof_join(
        left, right, on="k", left_ts="ts", right_ts="ts",
        right_payload=["v"], how="inner",
    ).count()
    assert inner == 2


def test_range_bucket_join_semantics(spark):
    from gmall_flink_2022_spark.operators.joins import range_bucket_join

    fact = spark.createDataFrame(
        [(1, 5.0), (2, 24999.9), (3, 25000.0), (4, 99999.0)],
        "fid long, val double",
    )
    bands = spark.createDataFrame(
        [(0, 0.0, 25000.0), (1, 25000.0, 50000.0)],
        "band_id int, lo double, hi double",
    )
    got = {
        (r["fid"], r["band_id"])
        for r in range_bucket_join(
            fact, bands, "val", "lo", "hi", bucket_width=10000
        ).collect()
    }
    # half-open bands: 24999.9 in band 0, 25000.0 exactly in band 1, 99999 in none
    assert got == {(1, 0), (2, 0), (3, 1)}


def test_range_bucket_join_left_keeps_unmatched(spark):
    import pytest

    from gmall_flink_2022_spark.operators.joins import range_bucket_join

    fact = spark.createDataFrame(
        [(1, 5.0), (2, 24999.9), (3, 25000.0), (4, 99999.0)],
        "fid long, val double",
    )
    bands = spark.createDataFrame(
        [(0, 0.0, 25000.0), (1, 25000.0, 50000.0)],
        "band_id int, lo double, hi double",
    )
    out = range_bucket_join(
        fact, bands, "val", "lo", "hi", bucket_width=10000, how="left"
    )
    got = {(r["fid"], r["band_id"]) for r in out.collect()}
    # fid=4 matches no band: a naive post-join residual filter would drop
    # it entirely; the left variant must keep it null-padded exactly once
    assert got == {(1, 0), (2, 0), (3, 1), (4, None)}
    with pytest.raises(ValueError):
        range_bucket_join(fact, bands, "val", "lo", "hi", 10000, how="full")


def test_salted_join_rejects_outer(spark):
    import pytest

    from gmall_flink_2022_spark.operators.skew import salted_join

    df = spark.range(4).withColumnRenamed("id", "k")
    with pytest.raises(ValueError):
        salted_join(df, df, "k", "k", buckets=4, how="full")


def test_dup_clusters_long_path_log_convergence(spark):
    """Large-star/small-star halves chains every round: a 200-node path
    must converge in O(log n) rounds, where min-label propagation would
    need ~200."""
    from gmall_flink_2022_spark.llm.dedup import dup_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 200)], "id_a long, id_b long"
    )
    got = {(r["id"], r["cluster_id"]) for r in dup_clusters(pairs).collect()}
    assert got == {(i, 1) for i in range(1, 201)}
    assert dup_clusters.last_rounds < 10


def test_dup_clusters_exhaustion_raises(spark):
    import pytest

    from gmall_flink_2022_spark.llm.dedup import dup_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 100)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="converge"):
        dup_clusters(pairs, max_iters=2)


def test_winnow_short_docs_no_crash(spark):
    """Docs with fewer than k tokens must yield zero fingerprints, not
    throw (sequence() counts down when stop < start -> slice(_v, 0, k)
    raised INVALID_PARAMETER_VALUE.START before the guard)."""
    from gmall_flink_2022_spark.llm.text import winnow_fingerprints

    df = spark.createDataFrame(
        [
            (1, "one two"),
            (2, "x"),
            (3, ""),
            (4, "alpha beta gamma delta epsilon zeta eta theta"),
        ],
        "doc_id long, text string",
    )
    out = winnow_fingerprints(df, "doc_id", "text", k=3, w=4).collect()
    assert {r["id"] for r in out} == {4}
    assert len(out) > 0


def test_fmm_segmentation_pure():
    """Dictionary longest-match semantics (no Spark needed): nested
    lexicon entries resolve to the longest word; unknown chars fall back
    to single-char tokens (the IK-analyzer-intended behavior of
    utils/KeywordUtil.java:11-14, not the per-char regex degradation)."""
    from gmall_flink_2022_spark.functions.tokenize import (
        fmm_segment,
        segment_mixed,
    )

    assert fmm_segment("小米平板电脑") == ["小米", "平板电脑"]   # not 平板+电脑
    assert fmm_segment("华为手机壳") == ["华为", "手机", "壳"]   # 壳 not in lexicon
    assert fmm_segment("X苹果") == ["X", "苹果"]
    assert segment_mixed("小米phone 128G手机") == ["小米", "phone", "128g", "手机"]
    assert segment_mixed("") == []
    assert segment_mixed(None) == []


def test_cjk_tokens_udf_mixed(spark):
    from gmall_flink_2022_spark.functions.tokenize import cjk_tokens_udf

    df = spark.createDataFrame(
        [(1, "买小米平板电脑 best Price"), (2, None)], "id long, s string"
    )
    got = {r["id"]: r["toks"] for r in df.select(
        "id", cjk_tokens_udf()(F.col("s")).alias("toks")).collect()}
    assert got[1] == ["买", "小米", "平板电脑", "best", "price"]
    assert got[2] == []


def test_decontaminate_removes_overlapping_docs(spark):
    from gmall_flink_2022_spark.llm.decontam import (
        contaminated_ids,
        decontaminate,
    )

    bench = spark.createDataFrame(
        [(900, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    docs = spark.createDataFrame(
        [
            (1, "completely unrelated text about spark plans"),
            (2, "he saw the quick brown fox run away"),   # shares 3-gram
            (3, "dog lazy the over jumps"),               # same words, no 3-gram
        ],
        "doc_id long, text string",
    )
    bad = {r["id"] for r in contaminated_ids(docs, bench, "doc_id", "text").collect()}
    assert bad == {2}
    kept = {r["doc_id"] for r in decontaminate(docs, bench, "doc_id", "text").collect()}
    assert kept == {1, 3}


def test_bloom_decontam_equals_exact_even_with_false_positives(spark):
    """The bloom prefilter's semantic contract: bit-identical ids to the
    exact path. A deliberately tiny bitmap (128 bits for ~dozens of
    shingles) forces hash collisions, so false-positive candidates DO
    reach the verify join — and are discarded there; an empty benchmark
    yields an all-zero bitmap and an empty result without error."""
    from gmall_flink_2022_spark.llm import decontam as dc

    bench = spark.createDataFrame(
        [(900, "the quick brown fox jumps over the lazy dog"),
         (901, "pack my box with five dozen liquor jugs")],
        "doc_id long, text string",
    )
    docs = spark.createDataFrame(
        [(1, "completely unrelated text about spark plans and shuffles"),
         (2, "he saw the quick brown fox run away"),
         (3, "five dozen liquor jugs were packed"),
         (4, None), (5, "")],
        "doc_id long, text string",
    )
    exact = sorted(
        r["id"] for r in dc.contaminated_ids(docs, bench, "doc_id", "text").collect()
    )
    assert exact == [2, 3]
    for m in (128, dc.BLOOM_BITS):
        got = sorted(
            r["id"]
            for r in dc.contaminated_ids_bloom(
                docs, bench, "doc_id", "text", m_bits=m
            ).collect()
        )
        assert got == exact, f"m_bits={m}"
    empty_bench = bench.filter("doc_id < 0")
    assert dc.contaminated_ids_bloom(docs, empty_bench, "doc_id", "text").count() == 0


def test_bloom_prefilter_plan_is_join_free(spark):
    """The point of the bitmap: the corpus-side candidate filter is a
    pure narrow expression — its physical plan contains NO join and no
    Python eval; only the verify step joins (over survivors)."""
    from pyspark.sql import functions as F

    from gmall_flink_2022_spark.llm import decontam as dc
    from gmall_flink_2022_spark.llm.dedup import shingles

    docs = spark.range(0, 50).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("alpha beta gamma delta word"), F.col("id").cast("string")).alias("text"),
    )
    bench = docs.filter(F.col("doc_id") % 10 == 0)
    words = dc.shingle_bloom_words(bench, "doc_id", "text")
    assert len(words) == dc.BLOOM_BITS // 64 and any(w != 0 for w in words)
    cand = shingles(docs, "doc_id", "text", dedupe=False).filter(
        dc._bloom_might_contain(
            F.col("shingle"), words, dc.BLOOM_BITS, dc.BLOOM_K, dc.BLOOM_SEED
        )
    )
    plan = cand._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "BatchEvalPython" not in plan


def test_dsir_prefers_target_domain_docs(spark):
    """DSIR semantics: raw docs phrased like the target domain outscore
    unrelated raw docs; weights are bounded (dense B rows); NULL/empty
    raw docs score (0, 0) and never get selected — fail-closed."""
    from gmall_flink_2022_spark.llm import dsir

    target = spark.createDataFrame(
        [(1000 + i, "python spark dataframe shuffle partition broadcast join")
         for i in range(5)],
        "doc_id long, text string",
    )
    raw = spark.createDataFrame(
        [(1, "spark dataframe shuffle partition tuning"),   # target-like
         (2, "broadcast join partition pruning in spark"),  # target-like
         (3, "banana smoothie recipes for summer picnics"),
         (4, "medieval castle architecture and moats"),
         (5, None), (6, "")],
        "doc_id long, text string",
    )
    B = 256
    w = dsir.dsir_weights(raw, target, "text", n_buckets=B)
    assert w.count() == B
    out = {r["id"]: r for r in dsir.dsir_select(
        raw, target, k=2, n_buckets=B).collect()}
    assert len(out) == 6
    kept = {i for i, r in out.items() if r["keep"]}
    assert kept == {1, 2}
    for i in (5, 6):
        assert out[i]["n_feats"] == 0 and out[i]["score"] == 0
    # per-occurrence scoring: the target-like docs strictly outscore the
    # unrelated ones under the quantized log2 weights
    assert min(out[1]["score"], out[2]["score"]) > max(
        out[3]["score"], out[4]["score"]
    )


def test_dsir_score_broadcasts_weight_table(spark):
    """The scorer's join against the B-row weight table must be a
    broadcast (nothing vocabulary- or corpus-shaped on the build side);
    the whole path is Python-free."""
    from pyspark.sql import functions as F

    from gmall_flink_2022_spark.llm import dsir

    docs = spark.range(0, 40).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("alpha beta gamma doc "), F.col("id").cast("string")).alias("text"),
    )
    target = docs.filter(F.col("doc_id") % 10 == 0)
    w = dsir.dsir_weights(docs, target, "text", n_buckets=256)
    plan = (
        dsir.dsir_score(docs, w, "doc_id", "text", n_buckets=256)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan and "BatchEvalPython" not in plan


def test_cjk_lexicon_breadth_and_fallback_guard():
    """The expanded dictionary (VERDICT r2 #5): a few hundred multi-char
    terms, nested compounds present for longest-match, and the 壳/膜
    char-fallback fixture characters stay out of the dictionary."""
    from gmall_flink_2022_spark.functions.tokenize import (
        CJK_LEXICON,
        fmm_segment,
    )

    assert len(CJK_LEXICON) >= 250
    assert all(len(w) >= 2 for w in CJK_LEXICON)
    assert not any("壳" in w or "膜" in w for w in CJK_LEXICON)
    # nested compounds segment by longest match, not their parts
    assert fmm_segment("智能手机") == ["智能手机"]      # not 智能+手机
    assert fmm_segment("笔记本电脑") == ["笔记本电脑"]  # not 笔记本+电脑
    assert fmm_segment("全自动洗衣机") == ["全自动洗衣机"]
    assert fmm_segment("无线路由器") == ["无线路由器"]  # not 无线+路由器
    # multi-word run previously falling to per-char tokens
    assert fmm_segment("小米智能手表降噪耳机") == ["小米", "智能手表", "降噪耳机"]


def test_table_buckets_udf_matches_expression(spark, sf_dir):
    """The vectorized (numpy gemm) bucket computation must agree with the
    pure-expression rendering (lsh_bucket) — same planes, same bucket
    keys. Tiny sign-boundary drift from summation order is tolerated."""
    from gmall_flink_2022_spark.llm.similarity import (
        _hyperplanes,
        _table_buckets,
        lsh_bucket,
    )
    from gmall_flink_2022_spark.sources.io import read_table

    tables = [_hyperplanes(64, 4, 42 + 1000 * t) for t in range(4)]
    embs = read_table(spark, sf_dir, "embeddings").limit(200)
    udf_side = {
        r["vec_id"]: r["b"]
        for r in embs.select(
            "vec_id", _table_buckets(F.col("embedding"), tables).alias("b")
        ).collect()
    }
    expr_side = {
        r["vec_id"]: [
            f"{t}:" + r[f"t{t}"] for t in range(len(tables))
        ]
        for r in embs.select(
            "vec_id",
            *[
                lsh_bucket(F.col("embedding"), planes).alias(f"t{t}")
                for t, planes in enumerate(tables)
            ],
        ).collect()
    }
    n_planes = len(tables[0])
    n_keys = sum(len(tables) for _ in udf_side)
    bad_bits = sum(
        sum(1 for x, y in zip(a, b) if x != y)
        for k in udf_side
        for a, b in zip(udf_side[k], expr_side[k])
    )
    # summation-order sign flips can differ on near-zero dots; allow a
    # small fraction of BITS (denominator tracks the actual plane count)
    assert bad_bits / max(n_keys * n_planes, 1) < 0.005


def test_sequence_pack_invariants(spark, sf_dir):
    """Packing is a contiguous shard-local layout: offsets tile each
    shard exactly (no gaps/overlaps in id order), seq_id is the
    seq_len-quotient of the offset, empties are dropped."""
    from gmall_flink_2022_spark.llm.packing import sequence_pack
    from gmall_flink_2022_spark.sources.io import read_table

    docs = read_table(spark, sf_dir, "documents")
    out = sequence_pack(docs, "doc_id", "text", seq_len=512, n_shards=8)
    rows = sorted(
        ((r["shard"], r["id"], r["tok_offset"], r["n_tokens"], r["seq_id"])
         for r in out.collect())
    )
    by_shard: dict[int, int] = {}
    for shard, _id, off, n, seq in rows:
        assert off == by_shard.get(shard, 0)  # contiguous, id-ordered
        assert seq == off // 512
        assert n > 0
        by_shard[shard] = off + n


def test_chunk_overlap_invariants(spark, sf_dir):
    """Chunks cover every token; consecutive chunks overlap by exactly
    `overlap` tokens (except a truncated tail); starts step by stride."""
    from gmall_flink_2022_spark.llm.packing import chunk_overlap
    from gmall_flink_2022_spark.sources.io import read_table

    docs = read_table(spark, sf_dir, "documents").limit(50)
    out = chunk_overlap(docs, "doc_id", "text", chunk_size=128, overlap=32)
    per_doc: dict[int, list] = {}
    for r in out.collect():
        per_doc.setdefault(r["id"], []).append(
            (r["chunk_id"], r["tok_start"], r["tok_end"])
        )
    assert per_doc
    for chunks in per_doc.values():
        chunks.sort()
        assert chunks[0][1] == 0  # first chunk starts at token 0
        for (i_, s, e), (j_, s2, e2) in zip(chunks, chunks[1:]):
            assert s2 - s == 96  # stride
            assert e >= s2  # no token gap between consecutive chunks
        for _i, s, e in chunks:
            assert 0 < e - s <= 128

    import pytest

    with pytest.raises(ValueError):
        chunk_overlap(docs, "doc_id", "text", chunk_size=32, overlap=32)


def test_mixture_sample_rates_and_stability(spark, sf_dir):
    """Mixture membership is a pure function of the id (stable across
    runs) and each group's observed rate tracks its configured rate."""
    from gmall_flink_2022_spark.llm.sampling import mixture_sample
    from gmall_flink_2022_spark.sources.io import read_table

    docs = read_table(spark, sf_dir, "documents")
    frac = {"en": 0.5, "zh": 1.0}
    a = {r["doc_id"] for r in mixture_sample(docs, "lang", "doc_id", frac, 0.2).collect()}
    b = {r["doc_id"] for r in mixture_sample(docs, "lang", "doc_id", frac, 0.2).collect()}
    assert a == b  # retry-stable
    totals = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    kept = {
        r["lang"]: r["n"]
        for r in mixture_sample(docs, "lang", "doc_id", frac, 0.2)
        .groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert kept.get("zh", 0) == totals.get("zh", 0)  # rate 1.0 keeps all
    if totals.get("en", 0) >= 50:
        assert 0.3 <= kept.get("en", 0) / totals["en"] <= 0.7


def test_semdedup_keep_semantics(spark, sf_dir):
    """Every cluster keeps exactly its min-id member; removed rows all
    have an exactly-verified >=threshold path to their representative
    (precision 1.0 by construction)."""
    from gmall_flink_2022_spark.llm.similarity import semdedup
    from gmall_flink_2022_spark.plans.llm_plans import _embs_planted

    sd = semdedup(
        _embs_planted(spark, sf_dir), "vec_id", "embedding",
        threshold=0.9, n_cells=8,
    )
    rows = [(r["id"], r["cluster_id"], r["keep"]) for r in sd.collect()]
    assert rows
    by_cluster: dict[int, list] = {}
    for i, c, k in rows:
        assert c <= i  # representative is the min id
        assert k == (c == i)
        by_cluster.setdefault(c, []).append(i)
    for c, members in by_cluster.items():
        assert min(members) == c  # the representative is a member
    # the planted corpus has twins -> some dedup must actually happen
    assert any(not k for _i, _c, k in rows)


def test_percentile_approx_accuracy_curve(spark, sf_dir):
    """percentile_approx's `accuracy` knob trades memory for error — the
    reason it is the 100 TB path. Document the curve: error vs the exact
    interpolated percentile is bounded and non-increasing (within a
    small slack) as accuracy grows."""
    from gmall_flink_2022_spark.sources.io import read_table

    li = read_table(spark, sf_dir, "lineitem")
    exact = li.agg(
        F.expr("percentile(l_extendedprice, 0.9)").alias("p")
    ).collect()[0]["p"]
    errs = {}
    for acc in (100, 1000, 10000):
        approx = li.agg(
            F.expr(f"percentile_approx(l_extendedprice, 0.9, {acc})").alias("p")
        ).collect()[0]["p"]
        errs[acc] = abs(approx - exact) / exact
    # every setting lands inside its documented bound (1/accuracy rank
    # error maps to a small relative value error on this distribution)
    assert errs[100] <= 0.05
    assert errs[1000] <= 0.01
    assert errs[10000] <= 0.005
    # higher accuracy never gets meaningfully worse
    assert errs[10000] <= errs[100] + 1e-9


def test_table_buckets_null_and_ragged_vectors_degrade(spark):
    """A NULL or wrong-dimension embedding must produce a null bucket
    list (row silently excluded from candidates, like the expression
    rendering) — not crash the Arrow batch."""
    from gmall_flink_2022_spark.llm.similarity import _hyperplanes, _table_buckets

    tables = [_hyperplanes(4, 2, 42)]
    df = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0, 4.0]), (2, None), (3, [1.0, 2.0])],
        "vec_id long, embedding array<double>",
    )
    rows = {
        r["vec_id"]: r["b"]
        for r in df.select(
            "vec_id", _table_buckets(F.col("embedding"), tables).alias("b")
        ).collect()
    }
    assert rows[1] is not None and len(rows[1]) == 1
    assert rows[2] is None and rows[3] is None


def test_substring_match_spans_exact_boundaries(spark):
    """Hand-built corpus: a 15-token run shared by docs 1 and 2 (twice in
    doc 2 -> two diagonals), a 10-token run shared with doc 3 (below
    min_len -> filtered). Span boundaries must be exact 1-based token
    indices; within-doc repeats never pair with themselves."""
    from gmall_flink_2022_spark.llm.dedup import substring_match_spans

    run = " ".join(f"r{i}" for i in range(1, 16))       # 15 tokens
    short = " ".join(f"r{i}" for i in range(1, 11))     # its 10-token prefix
    docs = spark.createDataFrame(
        [
            (1, "a1 a2 a3 a4 a5 " + run + " b1 b2 b3"),
            (2, "c1 c2 " + run + " d1 " + run),
            (3, "e1 " + short + " f1 f2"),
        ],
        "doc_id long, text string",
    )
    out = substring_match_spans(
        docs, "doc_id", "text", k=8, min_len=12, max_gram_df=16
    )
    rows = {tuple(r) for r in out.collect()}
    assert rows == {
        (1, 2, 6, 20, 3, 17, 15),
        (1, 2, 6, 20, 19, 33, 15),
    }


def test_substring_match_spans_df_cap(spark):
    """A gram above the occurrence cap generates no candidates: with the
    run planted in max_gram_df+1 docs every run-gram caps out, so no
    spans emerge (the documented df-capped recall trade); raising the cap
    recovers all pairs."""
    from gmall_flink_2022_spark.llm.dedup import substring_match_spans

    run = " ".join(f"r{i}" for i in range(1, 16))
    docs = spark.createDataFrame(
        [(i, f"u{i} v{i} " + run) for i in range(1, 6)],
        "doc_id long, text string",
    )
    capped = substring_match_spans(
        docs, "doc_id", "text", k=8, min_len=12, max_gram_df=4
    )
    assert capped.count() == 0
    full = substring_match_spans(
        docs, "doc_id", "text", k=8, min_len=12, max_gram_df=16
    )
    assert full.count() == 10  # all C(5,2) pairs, one span each


def test_sequence_pack_bpe_counter_matches_token_stats(spark, sf_dir):
    """Tokenizer-aware packing: under counter='bpe' the layout's token
    accounting is EXACTLY token_stats.n_bpe_tokens (boundaries line up
    with mixture/stats budgets), offsets remain contiguous per shard, and
    every document's first token lands inside its assigned sequence
    (seq_id * seq_len <= tok_offset < (seq_id+1) * seq_len). Unknown
    counter names raise."""
    import pytest

    from gmall_flink_2022_spark.llm.packing import sequence_pack
    from gmall_flink_2022_spark.llm.text import token_stats
    from gmall_flink_2022_spark.sources.io import read_table

    docs = read_table(spark, sf_dir, "documents")
    out = sequence_pack(
        docs, "doc_id", "text", seq_len=512, n_shards=8, counter="bpe"
    )
    bpe = {
        r["id"]: r["n_bpe_tokens"]
        for r in token_stats(docs, "doc_id", "text").collect()
    }
    rows = sorted(
        ((r["shard"], r["id"], r["tok_offset"], r["n_tokens"], r["seq_id"])
         for r in out.collect())
    )
    assert rows
    by_shard: dict[int, int] = {}
    for shard, id_, off, n, seq in rows:
        assert n == bpe[id_]  # layout uses the stats accounting
        assert off == by_shard.get(shard, 0)
        assert seq * 512 <= off < (seq + 1) * 512
        by_shard[shard] = off + n

    with pytest.raises(ValueError):
        sequence_pack(docs, "doc_id", "text", counter="nope")


def test_remove_matched_spans_merge_and_keep_policy(spark):
    """Removal keeps the lower-id copy and cuts [b_start,b_end] from the
    higher-id doc; overlapping cut ranges union-merge (no double-remove);
    untouched docs pass through with n_removed=0; empty docs survive."""
    from gmall_flink_2022_spark.llm.dedup import remove_matched_spans

    docs = spark.createDataFrame(
        [(1, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"),
         (2, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10"),
         (3, "v1 v2 v3"),
         (4, "")],
        "doc_id long, text string",
    )
    # two overlapping cuts in doc 2 (tokens 2-5 and 4-8 -> merged 2-8)
    spans = spark.createDataFrame(
        [(1, 2, 1, 4, 2, 5, 4), (1, 2, 3, 7, 4, 8, 5)],
        "id_a long, id_b long, a_start long, a_end long, "
        "b_start long, b_end long, match_len long",
    )
    out = {r["id"]: r for r in remove_matched_spans(docs, spans, "doc_id", "text").collect()}
    assert len(out) == 4
    assert out[1]["clean_text"].split() == [f"t{i}" for i in range(1, 11)]
    assert out[1]["n_removed"] == 0
    assert out[2]["clean_text"].split() == ["u1", "u9", "u10"]
    assert out[2]["n_removed"] == 7  # merged 2..8, not 4+5
    assert out[3]["n_removed"] == 0
    assert out[4]["clean_text"] == "" and out[4]["n_tokens"] == 0


def test_paragraph_dedup_keep_first_semantics(spark):
    """Planted micro-corpus: identical 3-token windows across docs die
    everywhere except their first (doc, pos) occurrence; within-doc
    repeats (same doc, one holder) survive untouched."""
    from gmall_flink_2022_spark.llm.dedup import paragraph_dedup

    base = "a b c d e f"  # two 3-token segments: "a b c" / "d e f"
    rows = [
        (1, base),  # canonical copy
        (2, base),  # full duplicate -> both segments removed
        (3, "a b c x y z"),  # shares only segment 0
        (4, "q q q q q q"),  # self-repeating but single-doc -> untouched
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["id"]: r
        for r in paragraph_dedup(df, "doc_id", "text", window=3).collect()
    }
    assert out[1]["n_removed"] == 0 and out[1]["clean_text"] == base
    assert out[2]["n_removed"] == 2 and out[2]["clean_text"] == ""
    assert out[3]["n_removed"] == 1 and out[3]["clean_text"] == "x y z"
    assert out[4]["n_removed"] == 0 and out[4]["clean_text"] == "q q q q q q"


def test_paragraph_dedup_separator_mode(spark):
    """sep='\\n' splits on real paragraph boundaries (the production
    path for web corpora); ragged last chunks never false-match."""
    from gmall_flink_2022_spark.llm.dedup import paragraph_dedup

    rows = [
        (1, "shared para\nunique one"),
        (2, "shared para\nunique two"),
        (3, ""),  # empty doc -> no segments, absent from output
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["id"]: r
        for r in paragraph_dedup(df, "doc_id", "text", sep="\n").collect()
    }
    # clean_text rejoins with the SEPARATOR (idempotence: a second
    # sep='\n' pass sees the same paragraph boundaries)
    assert out[1]["clean_text"] == "shared para\nunique one"
    assert out[2]["n_removed"] == 1 and out[2]["clean_text"] == "unique two"
    assert 3 not in out  # explode drops segment-less docs


def test_gopher_filter_rules(spark):
    """Each rule fires independently; empty docs fail closed (false, not
    null) on every rule."""
    from gmall_flink_2022_spark.llm import text as T

    long_ok = " ".join(["word"] * 30)
    rows = [
        (1, long_ok),  # passes length/mean/alpha, fails stopwords
        (2, "the of " + " ".join(["word"] * 30)),  # passes everything
        (3, "short doc the of"),  # fails word count only
        (4, " ".join(["12345"] * 25) + " the of"),  # fails alpha frac
        (5, ""),  # empty: all rules false
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["id"]: r for r in T.gopher_filter(df, "doc_id", "text").collect()}
    assert not out[1]["r_stopwords"] and out[1]["r_word_count"]
    assert out[2]["keep"]
    assert not out[3]["r_word_count"] and out[3]["r_stopwords"]
    assert not out[4]["r_alpha_frac"] and not out[4]["keep"]
    assert out[5]["n_tokens"] == 0
    for rule in ("r_word_count", "r_mean_len", "r_alpha_frac", "r_stopwords", "keep"):
        assert out[5][rule] is False, rule


def test_bm25_ranking_semantics(spark):
    """Hand-computable micro-corpus: a query term that appears in one
    rare doc must outrank a term-matching doc with common terms; top-k
    caps and deterministic doc_id tiebreak hold."""
    from gmall_flink_2022_spark.llm.retrieval import bm25_topk

    rows = [
        (1, "apple banana banana"),
        (2, "apple cherry"),
        (3, "banana banana banana banana"),
        (4, "cherry cherry cherry"),
        (5, "apple apple apple"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = bm25_topk(df, "doc_id", "text", [(0, ["cherry"]), (1, ["apple", "banana"])], k=2)
    got = {(r["query_id"], r["rnk"]): r for r in out.collect()}
    # query 0: cherry appears in docs 2 and 4; doc 4 has higher tf and
    # shorter-normalized saturation -> rank 1
    assert got[(0, 1)]["doc_id"] == 4
    assert got[(0, 2)]["doc_id"] == 2
    # query 1: doc 1 matches BOTH terms -> beats any single-term doc
    assert got[(1, 1)]["doc_id"] == 1 and got[(1, 1)]["n_matched"] == 2
    # k cap: exactly 2 rows per query
    assert len(got) == 4


def test_bm25_identical_docs_tiebreak(spark):
    """Bit-identical scores (duplicate docs) fall back to doc_id order —
    the determinism the oracle hash depends on."""
    from gmall_flink_2022_spark.llm.retrieval import bm25_topk

    df = spark.createDataFrame(
        [(10, "x y"), (7, "x y"), (9, "x y")], ["doc_id", "text"]
    )
    out = bm25_topk(df, "doc_id", "text", [(0, ["x"])], k=3).collect()
    assert [r["doc_id"] for r in sorted(out, key=lambda r: r["rnk"])] == [7, 9, 10]


def test_mixture_temperature_downweights_large_sources(spark):
    """alpha=0.5 semantics: kept FRACTION of a small source exceeds that
    of a large source, expected total ~= target_fraction * N, and
    membership is deterministic across invocations."""
    from gmall_flink_2022_spark.llm.sampling import mixture_temperature_sqrt

    rows = [(i, "big" if i < 900 else "small") for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, src string")
    out = mixture_temperature_sqrt(df, "src", "doc_id", target_fraction=0.5)
    kept = {r["src"]: 0 for r in []}
    kept = {}
    for r in out.groupBy("src").count().collect():
        kept[r["src"]] = r["count"]
    frac_big = kept.get("big", 0) / 900
    frac_small = kept.get("small", 0) / 100
    assert frac_small > frac_big, (kept, "sqrt temperature must favor small")
    total = sum(kept.values())
    assert 0.3 * 1000 < total < 0.7 * 1000, total
    again = {r["src"]: r["count"] for r in
             mixture_temperature_sqrt(df, "src", "doc_id", 0.5)
             .groupBy("src").count().collect()}
    assert again == kept


def test_cluster_representatives_keep_best(spark):
    """argmax by (score, -id): highest quality wins; exact ties fall to
    the smaller id."""
    from gmall_flink_2022_spark.llm.dedup import cluster_representatives

    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)], "id long, cluster_id long"
    )
    quality = spark.createDataFrame(
        [(1, 0.5), (2, 0.9), (3, 0.7), (10, 0.4), (11, 0.4)], "id long, q double"
    )
    out = {r["cluster_id"]: r for r in
           cluster_representatives(clusters, quality, "q").collect()}
    assert out[1]["keep_id"] == 2 and out[1]["n_members"] == 3
    assert out[1]["keep_score"] == 0.9
    assert out[10]["keep_id"] == 10  # tie at 0.4 -> min id


def _dup_heavy_corpus(spark, sf_dir):
    from gmall_flink_2022_spark.sources.io import read_table

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    d2 = docs.filter(F.col("doc_id") % 5 == 0)
    corpus = docs
    for i in (1, 2):
        corpus = corpus.unionByName(
            d2.select((F.col("doc_id") + 100000 * i).alias("doc_id"), "text")
        )
    return corpus


def test_ngram_pairs_pre_dedup_equivalence(spark, sf_dir):
    """Exact-dedup-first must be invisible: identical pair sets (ids AND
    payload columns incl. the side-sensitive n_a/n_b) on a corpus where
    20% of docs have two bit-identical copies — with the df cap, without
    it, and with rare-pruning."""
    from gmall_flink_2022_spark.llm import dedup

    corpus = _dup_heavy_corpus(spark, sf_dir)
    for kw in (
        {},
        {"max_shingle_df": None},
        {"max_shingle_df": None, "prune_rare": True},
    ):
        on = {
            tuple(r)
            for r in dedup.ngram_jaccard_pairs(
                corpus, "doc_id", "text", threshold=0.5, pre_dedup=True, **kw
            ).collect()
        }
        off = {
            tuple(r)
            for r in dedup.ngram_jaccard_pairs(
                corpus, "doc_id", "text", threshold=0.5, pre_dedup=False, **kw
            ).collect()
        }
        assert on == off, kw
        assert on, f"vacuous equivalence {kw}"


def test_minhash_pairs_pre_dedup_equivalence(spark, sf_dir):
    from gmall_flink_2022_spark.llm import dedup

    corpus = _dup_heavy_corpus(spark, sf_dir)
    on = {
        tuple(r)
        for r in dedup.minhash_lsh_pairs(
            corpus, "doc_id", "text", threshold=0.4, pre_dedup=True
        ).collect()
    }
    off = {
        tuple(r)
        for r in dedup.minhash_lsh_pairs(
            corpus, "doc_id", "text", threshold=0.4, pre_dedup=False
        ).collect()
    }
    assert on == off and on


def test_embed_lsh_pre_dedup_equivalence(spark, sf_dir):
    from gmall_flink_2022_spark.llm import similarity
    from gmall_flink_2022_spark.sources.io import read_table

    embs = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    d2 = embs.filter(F.col("vec_id") % 5 == 0)
    corpus = embs.unionByName(
        d2.select((F.col("vec_id") + 100000).alias("vec_id"), "embedding")
    )
    kw = dict(threshold=0.9)
    on = {
        (r["id_a"], r["id_b"], round(r["sim"], 12))
        for r in similarity.embedding_near_dups_lsh(
            corpus, "vec_id", "embedding", pre_dedup=True, **kw
        ).collect()
    }
    off = {
        (r["id_a"], r["id_b"], round(r["sim"], 12))
        for r in similarity.embedding_near_dups_lsh(
            corpus, "vec_id", "embedding", pre_dedup=False, **kw
        ).collect()
    }
    assert on == off and on


def test_embed_lsh_pre_dedup_equivalence_zero_vectors(spark):
    """r5 ADVICE regression: duplicate all-zero vectors make the
    within-family cosine 0/0 (null). The uncollapsed path drops those
    pairs at the sim >= threshold verification; the pre-dedup path must
    apply the identical predicate to its within-family payload."""
    from gmall_flink_2022_spark.llm import similarity

    rows = [(i, [0.0, 0.0, 0.0, 0.0]) for i in range(4)] + [
        (10, [1.0, 0.0, 0.0, 0.0]),
        (11, [1.0, 0.0, 0.0, 0.0]),
    ]
    embs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    kw = dict(threshold=0.9, dim=4, n_planes=4, n_tables=2)
    for flag in (True, False):
        got = {
            (r["id_a"], r["id_b"])
            for r in similarity.embedding_near_dups_lsh(
                embs, "vec_id", "embedding", pre_dedup=flag, **kw
            ).collect()
        }
        assert (10, 11) in got, flag
        assert not any(a < 10 for a, _ in got), (flag, got)  # no null-sim rows


def test_pre_dedup_auto_probe(spark, sf_dir):
    """The auto probe says NO on an all-unique corpus (collapse would be
    pure overhead) and YES once >=5% of rows repeat."""
    from gmall_flink_2022_spark.llm.dedup import _should_pre_dedup
    from gmall_flink_2022_spark.sources.io import read_table

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    assert _should_pre_dedup(docs, F.md5(F.col("text"))) is False
    dup_heavy = _dup_heavy_corpus(spark, sf_dir)
    assert _should_pre_dedup(dup_heavy, F.md5(F.col("text"))) is True


def test_simhash_pairs_pre_dedup_equivalence(spark, sf_dir):
    from gmall_flink_2022_spark.llm import dedup

    corpus = _dup_heavy_corpus(spark, sf_dir)
    on = {
        tuple(r)
        for r in dedup.simhash_near_pairs(
            corpus, "doc_id", "text", pre_dedup=True
        ).collect()
    }
    off = {
        tuple(r)
        for r in dedup.simhash_near_pairs(
            corpus, "doc_id", "text", pre_dedup=False
        ).collect()
    }
    assert on == off and on


def test_pagerank_fixed_point_semantics(spark):
    """Hand-checkable graph: a 3-star (hub 1 - leaves 2,3,4). The hub
    must outrank the leaves, ranks are deterministic integers, and
    total mass stays within N floor-ulps of the scale per iteration."""
    from gmall_flink_2022_spark.llm.graph import PR_SCALE, pagerank

    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], "id_a long, id_b long"
    )
    out = {r["id"]: r["pr"] for r in pagerank(pairs, iterations=5).collect()}
    assert set(out) == {1, 2, 3, 4}
    assert out[2] == out[3] == out[4]  # symmetric leaves
    assert out[1] > out[2]  # hub dominates
    total = sum(out.values())
    assert abs(total - PR_SCALE) < 6 * 4 * 100  # <= iters * N * div-ulp slack
    again = {r["id"]: r["pr"] for r in pagerank(pairs, iterations=5).collect()}
    assert again == out  # bit-stable across runs


def test_pagerank_honors_damping_pct(spark):
    """Non-default damping must conserve probability mass too (the r5
    ADVICE bug: teleport hard-coded 15/100, so damping_pct=50 leaked 35%
    of the mass). At damping_pct=0 the ranks are exactly uniform."""
    from gmall_flink_2022_spark.llm.graph import PR_SCALE, pagerank

    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], "id_a long, id_b long"
    )
    for d in (50, 0):
        out = {
            r["id"]: r["pr"]
            for r in pagerank(pairs, iterations=3, damping_pct=d).collect()
        }
        total = sum(out.values())
        assert abs(total - PR_SCALE) < 4 * 4 * 100, (d, total)
    # pure teleport: uniform distribution, exactly PR_SCALE div 4 each
    assert set(out.values()) == {PR_SCALE // 4}


def test_ensure_explode_parallelism_guard(spark, sf_dir):
    """The fan-out fires only when it should: a starved file scan gets
    repartitioned to cluster parallelism, a source whose estimated split
    count already reaches parallelism passes through untouched (no extra
    shuffle), local relations are left alone, and streaming frames are
    never touched."""
    from gmall_flink_2022_spark.llm.dedup import ensure_explode_parallelism
    from gmall_flink_2022_spark.sources.io import read_stream_table, read_table

    dp = spark.sparkContext.defaultParallelism
    small = read_table(spark, sf_dir, "documents")
    assert small.rdd.getNumPartitions() < dp  # the starved-scan premise
    assert ensure_explode_parallelism(small).rdd.getNumPartitions() == dp

    # shrink the split size so the SAME file estimates as well-split:
    # the guard must become a pass-through (identity, not just count)
    old_mpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
    old_oc = spark.conf.get("spark.sql.files.openCostInBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "4k")
        spark.conf.set("spark.sql.files.openCostInBytes", "0")
        wide = read_table(spark, sf_dir, "documents")
        out = ensure_explode_parallelism(wide)
        assert out is wide  # untouched, not just same count
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old_mpb)
        spark.conf.set("spark.sql.files.openCostInBytes", old_oc)

    local = spark.range(3).withColumn("text", F.lit("a b c"))
    local = local.select("id", "text").where(F.col("id") >= 0)
    assert ensure_explode_parallelism(local) is local  # no file sources

    sdf = read_stream_table(spark, sf_dir, "documents")
    assert ensure_explode_parallelism(sdf) is sdf


def test_estimated_scan_partitions_formula(spark, sf_dir):
    """The estimator mirrors Spark's FilePartition math and never
    touches the physical plan: estimate ~ ceil(padded / maxSplit) with
    maxSplit = min(maxPartitionBytes, max(openCost, padded/parallelism)),
    and derived (post-shuffle) frames still estimate from their leaf
    files without triggering a job."""
    import math
    import os

    from gmall_flink_2022_spark.llm.dedup import _estimated_scan_partitions
    from gmall_flink_2022_spark.sources.io import read_table

    from gmall_flink_2022_spark.llm.dedup import _parse_byte_size

    df = read_table(spark, sf_dir, "documents")
    files = df.inputFiles()
    size = sum(os.path.getsize(f.replace("file:", "")) for f in files)
    mpb = _parse_byte_size(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b")
    )
    oc = _parse_byte_size(
        spark.conf.get("spark.sql.files.openCostInBytes", "4194304b")
    )
    dp = spark.sparkContext.defaultParallelism
    padded = size + oc * len(files)
    max_split = min(mpb, max(oc, padded // dp))
    expect = max(1, math.ceil(padded / max_split))
    assert _estimated_scan_partitions(df) == expect

    derived = df.groupBy("lang").count()
    assert _estimated_scan_partitions(derived) == expect  # same leaves


def test_make_scaled_sf_tool(spark, sf_dir, tmp_path):
    """The scaling-spot-check generator: N-fold row counts, referential
    integrity within replicas, dims copied once, schemas preserved."""
    import subprocess
    import sys

    import pyarrow.parquet as pq

    out = str(tmp_path / "sf2x")
    subprocess.run(
        [sys.executable, "tools/make_scaled_sf.py", sf_dir, out, "2"],
        check=True,
        cwd="/root/repo",
        capture_output=True,
    )
    for t, mult in [("lineitem", 2), ("orders", 2), ("customer", 2),
                    ("documents", 2), ("nation", 1), ("region", 1)]:
        src_n = pq.read_metadata(f"{sf_dir}/{t}.parquet").num_rows
        dst_n = pq.read_metadata(f"{out}/{t}.parquet").num_rows
        assert dst_n == src_n * mult, t
        assert (
            pq.read_schema(f"{out}/{t}.parquet")
            == pq.read_schema(f"{sf_dir}/{t}.parquet")
        ), t
    # referential integrity: every order's customer exists
    import duckdb

    con = duckdb.connect()
    orphans = con.execute(
        f"""SELECT COUNT(*) FROM '{out}/orders.parquet' o
            LEFT JOIN '{out}/customer.parquet' c ON c.c_custkey = o.o_custkey
            WHERE c.c_custkey IS NULL"""
    ).fetchone()[0]
    assert orphans == 0
    # replica docs are near-dups, not exact clones
    dup_texts = con.execute(
        f"""SELECT COUNT(*) - COUNT(DISTINCT text)
            FROM '{out}/documents.parquet'"""
    ).fetchone()[0]
    assert dup_texts == 0


def test_quality_classifier_semantics(spark):
    """Inference contract: empty docs fail closed; keep is exactly the
    sign of the integer logit; the Gopher verdict shifts the logit by
    +-0.2 mean-units (1000 * n_features in logit_5k units)."""
    from gmall_flink_2022_spark.llm.text import quality_classifier

    docs = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "the cat sat on the mat and it is fine")],
        "doc_id long, text string",
    )
    out = {r["id"]: r for r in quality_classifier(docs, "doc_id", "text").collect()}
    for i in (1, 2):
        assert out[i]["n_features"] == 0 and out[i]["keep"] is False
    r = out[3]
    assert r["keep"] == (r["n_features"] > 0 and r["logit_5k"] >= 0)
    # gopher bump accounting: logit_5k = 5*w_sum +- 1000*n_features
    bump = 1000 * r["n_features"]
    assert r["logit_5k"] == 5 * r["w_sum"] + (bump if r["gopher_keep"] else -bump)


def test_bpe_merge_step_greedy_overlap(spark):
    """The array-fold merge must implement GREEDY left-to-right
    semantics: in a run of k identical symbols under pair (a,a), merges
    land at offsets 0,2,4,... ("aaaa" -> "aa","aa"; "aaaaa" ->
    "aa","aa","a"), and non-overlapping matches all merge. Symbols that
    SQL text or a regex would escape (quote, backslash, '|', '$') merge
    like any other, and a merge list applies in order."""
    from gmall_flink_2022_spark.llm.bpe import apply_merges, symbols
    from gmall_flink_2022_spark.sources.io import local_frame

    words = ["aaaa", "aaaaa", "abab", "banana", "''''", "\\|\\|", "$$$", "|$|$"]
    wf = local_frame(spark, [(w,) for w in words], "word string")

    def seqs(merges):
        out = wf.select("word", apply_merges(symbols(F.col("word")), merges).alias("s"))
        return {r["word"]: r["s"] for r in out.collect()}

    seqs1 = seqs([("a", "a")])
    assert seqs1["aaaa"] == ["aa", "aa"]
    assert seqs1["aaaaa"] == ["aa", "aa", "a"]
    assert seqs1["abab"] == ["a", "b", "a", "b"]  # no (a,a) pairs
    assert seqs1["banana"] == ["b", "a", "n", "a", "n", "a"]

    seqs2 = seqs([("a", "b")])
    assert seqs2["abab"] == ["ab", "ab"]
    assert seqs2["banana"] == ["b", "a", "n", "a", "n", "a"]

    assert seqs([("'", "'")])["''''"] == ["''", "''"]
    assert seqs([("\\", "|")])["\\|\\|"] == ["\\|", "\\|"]
    assert seqs([("$", "$")])["$$$"] == ["$$", "$"]
    assert seqs([("|", "$"), ("|$", "|$")])["|$|$"] == ["|$|$"]
    assert seqs([])["|$|$"] == ["|", "$", "|", "$"]


def test_bpe_job_counts(spark):
    """Building ``bpe_apply`` over a local merge table runs no job (the
    merges enter the plan as literals) and its action runs at most 2
    (the word-count shuffle and the result); ``bpe_train`` runs its one
    word-table checkpoint plus at most 2 jobs per merge, with no
    per-merge checkpoint."""
    from gmall_flink_2022_spark.llm import bpe, cachereg
    from gmall_flink_2022_spark.sources.io import local_frame

    from .oracle_util import jobs_run_by

    docs = local_frame(
        spark,
        [(1, "low lower lowest newer wider"), (2, "new newest widest lowly")],
        "doc_id long, text string",
    )
    merges = local_frame(
        spark,
        [(1, "l", "o"), (2, "lo", "w"), (3, "e", "s")],
        "step long, left_sym string, right_sym string",
    )
    built, rows = [], []
    assert jobs_run_by(spark, lambda: built.append(bpe.bpe_apply(docs, merges))) == 0
    assert jobs_run_by(spark, lambda: rows.extend(built[0].collect())) <= 2
    assert {r["word"]: r["encoded"] for r in rows}["lowest"] == "low|es|t"

    ckpt = jobs_run_by(spark, lambda: cachereg.stage(bpe._word_symbols(docs, "text")))
    trained = []
    n = jobs_run_by(spark, lambda: trained.extend(bpe.bpe_train(docs, n_merges=4).collect()))
    assert len(trained) == 4
    assert n <= ckpt + 2 * 4, (n, ckpt)


def test_bpe_train_convergence_and_bounds(spark):
    """bpe_train runs exactly n_merges rounds while pairs remain, stops
    early when the corpus runs dry, and successive merges compose
    (later steps can pick multi-char symbols built by earlier ones)."""
    from gmall_flink_2022_spark.llm.bpe import bpe_train

    docs = spark.createDataFrame(
        [(1, "abab abab abab"), (2, "ab")], "doc_id long, text string"
    )
    out = bpe_train(docs, "text", n_merges=5).collect()
    # round 1 merges (a,b) everywhere; round 2 merges (ab,ab) inside
    # the 'abab' words; after that no adjacent pairs remain -> early stop
    assert [(r["step"], r["left_sym"], r["right_sym"]) for r in out] == [
        (1, "a", "b"),
        (2, "ab", "ab"),
    ]
    assert out[0]["pair_count"] == 7  # 2 x freq-3 'abab' + 1 x freq-1 'ab'
    assert out[1]["pair_count"] == 3  # one (ab,ab) per 'abab', freq 3


def test_pq_codes_semantics(spark):
    """PQ contract: codebook vectors encode to THEMSELVES with zero
    quantization error; every code is in [1, ksub]; qerr is the sum of
    per-subspace minima (non-negative)."""
    from gmall_flink_2022_spark.llm.similarity import pq_codes

    rows = [(i, [float((i * 7 + d) % 5) for d in range(8)]) for i in range(12)]
    embs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["id"]: r for r in pq_codes(
        embs, "vec_id", "embedding", dim=8, m=2, ksub=4
    ).collect()}
    assert set(out) == set(range(12))
    picked = sorted(
        range(12),
        key=lambda i: (__import__("hashlib").md5(f"pq|{i}".encode()).hexdigest(), i),
    )[:4]
    for i in picked:  # codebook members: exact self-match
        assert out[i]["qerr"] == 0.0, (i, out[i])
    for r in out.values():
        assert 1 <= r["code0"] <= 4 and 1 <= r["code1"] <= 4
        assert r["qerr"] >= 0.0


def test_corpus_diff_null_text(spark):
    """Presence is decided by side membership, not digest nullability:
    a NULL-text doc present in both snapshots is unchanged (both NULL)
    or changed (one side NULL), never added/removed."""
    from gmall_flink_2022_spark.llm.dedup import corpus_diff

    old = spark.createDataFrame(
        [(1, None), (2, "x"), (3, "gone"), (5, None)],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, None), (2, None), (4, "fresh"), (5, "now set")],
        "doc_id long, text string",
    )
    got = {r["id"]: r["status"] for r in corpus_diff(old, new, "doc_id", "text").collect()}
    assert got == {1: "unchanged", 2: "changed", 3: "removed",
                   4: "added", 5: "changed"}


def test_within_doc_dedup_sep_mode(spark):
    """In-document repeats collapse to their first occurrence; distinct
    docs sharing a paragraph are untouched (that is paragraph_dedup's
    job); the separator is preserved in clean_text."""
    from gmall_flink_2022_spark.llm.dedup import within_doc_dedup

    rows = [
        (1, "nav\nbody one\nnav\nfooter\nnav"),
        (2, "body two\nfooter"),  # footer repeats ACROSS docs: kept here
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["id"]: r
        for r in within_doc_dedup(df, "doc_id", "text", sep="\n").collect()
    }
    assert out[1]["clean_text"] == "nav\nbody one\nfooter"
    assert out[1]["n_segments"] == 5 and out[1]["n_removed"] == 2
    assert out[2]["n_removed"] == 0 and out[2]["clean_text"] == "body two\nfooter"


def test_estimated_scan_partitions_remote_scheme(spark, sf_dir, monkeypatch):
    """Unstat-able remote files degrade to COUNT-based semantics: one
    small s3 file must estimate as starved (guard fires), many remote
    files as well-partitioned (no-op) — counting unknown sizes as full
    splits would structurally disable the guard remotely (r6 review)."""
    from gmall_flink_2022_spark.llm.dedup import _estimated_scan_partitions
    from gmall_flink_2022_spark.sources.io import read_table

    df = read_table(spark, sf_dir, "documents")
    dp = spark.sparkContext.defaultParallelism

    def fake_few(self):
        return ["s3://bucket/docs/part-0000.parquet"]

    monkeypatch.setattr(type(df), "inputFiles", fake_few)
    assert _estimated_scan_partitions(df) < dp  # guard fires

    def fake_many(self):
        return [f"s3://bucket/docs/part-{i:04d}.parquet" for i in range(dp * 4)]

    monkeypatch.setattr(type(df), "inputFiles", fake_many)
    assert _estimated_scan_partitions(df) >= dp  # no-op at scale


def test_estimated_scan_partitions_encoded_local_uri(spark, sf_dir, tmp_path, monkeypatch):
    """r6 review: URL-encoded local URIs (spaces -> %20) and
    file://localhost/... forms must stat successfully (SIZE-based
    estimate), while file://otherhost/... degrades to the remote
    count-based path instead of silently counting size 0 via OSError;
    byte-size confs with fractional values ("1.5g") must parse."""
    import shutil

    from gmall_flink_2022_spark.llm.dedup import (
        _estimated_scan_partitions,
        _parse_byte_size,
    )
    from gmall_flink_2022_spark.sources.io import read_table

    # fractional conf values parse via float (Spark accepts them)
    assert _parse_byte_size("1.5g") == int(1.5 * (1 << 30))
    assert _parse_byte_size("0.5kb") == 512
    assert _parse_byte_size("128m") == 128 << 20

    d = tmp_path / "with space"
    d.mkdir()
    src = read_table(spark, sf_dir, "documents").inputFiles()[0].replace("file:", "")
    from urllib.parse import unquote as _uq

    shutil.copy(_uq(src), d / "part-0000.parquet")
    df = spark.read.parquet(str(d))
    encoded = [f for f in df.inputFiles() if "%20" in f]
    assert encoded, "expected inputFiles() to percent-encode the space"
    dp = spark.sparkContext.defaultParallelism

    # a single small LOCAL file (even percent-encoded) must be stat-ed:
    # its true size is tiny, so the padded-size formula says starved
    est_local = _estimated_scan_partitions(df)
    assert est_local is not None and est_local < dp

    # same file behind a foreign file:// host: unstat-able -> remote
    # count-based semantics, NOT an OSError-swallowed size of 0 via a
    # bogus local stat (one file still estimates starved, many don't)
    base = encoded[0].split("/", 3)[3]

    def fake_foreign_many(self):
        return [f"file://otherhost/{base}" for _ in range(dp * 4)]

    monkeypatch.setattr(type(df), "inputFiles", fake_foreign_many)
    assert _estimated_scan_partitions(df) >= dp


def test_null_text_fails_closed_gopher_and_classifier(spark):
    """r6 review: NULL-text rows must take the same fail-closed path as
    empty docs — keep=False and zeroed counts, never NULL verdicts
    (un-coalesced, size(NULL) is NULL under ANSI and keep became NULL)."""
    from gmall_flink_2022_spark.llm.text import gopher_filter, quality_classifier

    docs = spark.createDataFrame(
        [(1, None), (2, ""), (3, "the cat sat on the mat and it is fine")],
        "doc_id long, text string",
    )
    g = {r["id"]: r for r in gopher_filter(docs, "doc_id", "text").collect()}
    for i in (1, 2):
        assert g[i]["n_tokens"] == 0
        assert g[i]["keep"] is False
        for c in ("r_word_count", "r_mean_len", "r_alpha_frac", "r_stopwords"):
            assert g[i][c] is False, (i, c)
    q = {r["id"]: r for r in quality_classifier(docs, "doc_id", "text").collect()}
    for i in (1, 2):
        assert q[i]["n_features"] == 0 and q[i]["w_sum"] == 0
        assert q[i]["keep"] is False and q[i]["gopher_keep"] is False
    # NULL and empty text are byte-for-byte the same decision row
    assert q[1][1:] == q[2][1:]


def test_bpe_apply_equals_encode(spark):
    """The production-tokenizer contract (r6 VERDICT ask #2):
    apply(train(corpus)) over the SAME corpus must equal encode(corpus)
    — shipping the merge table loses nothing."""
    from gmall_flink_2022_spark.llm import bpe

    df = spark.createDataFrame(
        [(1, "low lower lowest newer newest wider wide widely"),
         (2, "low low lower newer wide wide wider new news")],
        "doc_id long, text string",
    )
    merges = bpe.bpe_train(df, "text", n_merges=5)
    enc = sorted(map(tuple, bpe.bpe_encode(df, "text", n_merges=5).collect()))
    app = sorted(map(tuple, bpe.bpe_apply(df, merges, "text").collect()))
    assert app == enc


def test_bpe_apply_oov_char_fallback(spark):
    """Open-vocabulary property: words (and characters) the training
    split never saw encode as their character sequence — unmerged, not
    an error; seen subword pairs still merge inside unseen words."""
    from gmall_flink_2022_spark.llm import bpe

    train = spark.createDataFrame(
        [(1, "abab abab abab ab ab")], "doc_id long, text string"
    )
    merges = bpe.bpe_train(train, "text", n_merges=2)
    got = {r["step"]: (r["left_sym"], r["right_sym"]) for r in merges.collect()}
    assert got[1] == ("a", "b")  # most frequent pair
    held = spark.createDataFrame(
        [(2, "xyz abxy qq")], "doc_id long, text string"
    )
    out = {r["word"]: r for r in bpe.bpe_apply(held, merges, "text").collect()}
    # fully-unseen word: pure char fallback
    assert out["xyz"]["encoded"] == "x|y|z" and out["xyz"]["n_syms"] == 3
    assert out["qq"]["encoded"] == "q|q"
    # unseen word containing a trained pair: the pair still merges
    enc_abxy = out["abxy"]["encoded"]
    assert enc_abxy.startswith("ab") and "a|b" not in enc_abxy


def test_pq_adc_equals_reconstruction_distance(spark):
    """The defining ADC identity (Jegou et al. 2011): the ADC score of
    (query, corpus vector) equals the EXACT squared L2 between the query
    and the vector's reconstruction (its per-subspace nearest centroids
    concatenated) — squared L2 decomposes over the subspace split."""
    from gmall_flink_2022_spark.llm import similarity as sim

    rows = [(i, [float((i * 7 + d * 3) % 11) - 5.0 for d in range(8)])
            for i in range(1, 13)]
    embs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    kw = dict(dim=8, m=2, ksub=4, seed="pq")
    queries = embs.filter(F.col("vec_id") <= 2)
    out = sim.pq_adc_topk(embs, queries, "vec_id", "embedding", k=100, **kw)
    got = {(r["query_id"], r["neighbor_id"]): r["adc_dist"] for r in out.collect()}

    codes = {r["id"]: (r["code0"], r["code1"])
             for r in sim.pq_codes(embs, "vec_id", "embedding", **kw).collect()}
    cent = {r["cid"]: list(r["cvec"])
            for r in sim._pq_codebook(embs, "vec_id", "embedding", 4, "pq").collect()}
    vecs = dict(rows)
    for (qid, nid), adc in got.items():
        recon = cent[codes[nid][0]][:4] + cent[codes[nid][1]][4:]
        exact = sum((a - b) ** 2 for a, b in zip(vecs[qid], recon))
        assert abs(adc - exact) < 1e-9, (qid, nid)
    # every non-self pair ranked (k=100 > corpus size)
    assert len(got) == 2 * 11


def test_cms_overestimates_and_merges(spark):
    """CMS guarantees: (a) one-sided — est >= exact for EVERY token,
    (b) mergeable — the sketch of a union equals the cellwise sum of
    the shard sketches (what makes it the bounded-state streaming/
    multi-day aggregate)."""
    from gmall_flink_2022_spark.llm import sketch as sk

    a = spark.createDataFrame(
        [(1, "the cat and the hat"), (2, "the cat sat")],
        "doc_id long, text string",
    )
    b = spark.createDataFrame(
        [(3, "a cat a mat the end"), (4, None)], "doc_id long, text string"
    )
    u = a.unionByName(b)
    kw = dict(width=32, depth=3)  # tiny grid -> collisions guaranteed
    est = {
        r["token"]: r["cms_est"]
        for r in sk.cms_estimate(
            sk.token_cms(u, "text", **kw),
            u.selectExpr("explode(filter(split(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS token").distinct(),
            **kw,
        ).collect()
    }
    from collections import Counter
    exact = Counter(
        t for r in u.collect() if r["text"]
        for t in r["text"].lower().split() if t
    )
    assert set(est) == set(exact)
    for t, c in exact.items():
        assert est[t] >= c, t
    # mergeability: union sketch == cellwise sum of shard sketches
    sa = {(r["rw"], r["bucket"]): r["cnt"] for r in sk.token_cms(a, "text", **kw).collect()}
    sb = {(r["rw"], r["bucket"]): r["cnt"] for r in sk.token_cms(b, "text", **kw).collect()}
    su = {(r["rw"], r["bucket"]): r["cnt"] for r in sk.token_cms(u, "text", **kw).collect()}
    merged = dict(sa)
    for k, v in sb.items():
        merged[k] = merged.get(k, 0) + v
    assert merged == su


def test_ivf_pq_composition_identity(spark):
    """IVF-PQ = prune-then-ADC: for every query, the result equals
    pq_adc_topk run on the corpus RESTRICTED to that query's probed
    cells — pruning changes which candidates are scored, never how."""
    from pyspark.sql import Window as W

    from gmall_flink_2022_spark.llm import similarity as sim

    rows = [(i, [float((i * 13 + d * 5) % 17) - 8.0 for d in range(8)])
            for i in range(1, 25)]
    embs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = embs.filter(F.col("vec_id") <= 2)
    kw = dict(dim=8, m=2, ksub=4, seed="pq")
    got = sim.ivf_pq_topk(
        embs, queries, "vec_id", "embedding",
        n_cells=4, n_probe=2, k=50, **kw
    )
    got_rows = sorted(map(tuple, got.collect()))

    # reference: per query, restrict the corpus to its probed cells and
    # run plain pq_adc_topk
    coarse = sim._pq_codebook(embs, "vec_id", "embedding", 4, "ivf")
    cellw = W.partitionBy("vec_id").orderBy(F.asc("d"), F.asc("cid"))
    asg = (
        embs.crossJoin(F.broadcast(coarse))
        .select("vec_id", "cid", sim._full_l2(F.col("embedding"), F.col("cvec")).alias("d"))
        .withColumn("rn", F.row_number().over(cellw))
        .filter("rn = 1")
    )
    cells = {r["vec_id"]: r["cid"] for r in asg.collect()}
    expect = []
    for qrow in queries.collect():
        qid = qrow["vec_id"]
        probed = sorted(
            (r["cid"] for r in (
                spark.createDataFrame([(qid, qrow["embedding"])], "vec_id long, embedding array<float>")
                .crossJoin(F.broadcast(coarse))
                .select("cid", sim._full_l2(F.col("embedding"), F.col("cvec")).alias("d"))
                .orderBy(F.asc("d"), F.asc("cid")).limit(2).collect()
            ))
        )
        restricted = embs.filter(F.col("vec_id").isin([v for v, c in cells.items() if c in probed]))
        # pq codebook/codes must come from the FULL corpus (the index is
        # built once); score restricted candidates via cms... use
        # pq_adc_topk on (restricted corpus for codes? no) -> emulate:
        sub = sim.pq_adc_topk(embs, queries.filter(F.col("vec_id") == qid),
                              "vec_id", "embedding", k=1000, **kw)
        keep_ids = {v for v, c in cells.items() if c in probed}
        per_q = [r for r in sub.collect() if r["neighbor_id"] in keep_ids]
        per_q.sort(key=lambda r: (r["adc_dist"], r["neighbor_id"]))
        for rk, r in enumerate(per_q, 1):
            expect.append((r["query_id"], r["neighbor_id"], r["adc_dist"], rk))
    assert got_rows == sorted(expect)


def test_bpe_merges_roundtrip_through_store(spark, tmp_path):
    """Shipped-artifact round trip: train -> save_merges -> load_merges
    -> apply gives byte-identical encodings to applying the in-memory
    table (the persisted tokenizer IS the tokenizer)."""
    from gmall_flink_2022_spark.llm import bpe
    from gmall_flink_2022_spark.sources.dim_store import DimStore

    train = spark.createDataFrame(
        [(1, "low lower lowest newer newest wide widely")],
        "doc_id long, text string",
    )
    held = spark.createDataFrame(
        [(2, "lowest wide zz newerly")], "doc_id long, text string"
    )
    merges = bpe.bpe_train(train, "text", n_merges=4)
    store = DimStore(spark, str(tmp_path / "tok"))
    bpe.save_merges(store, merges)
    direct = sorted(map(tuple, bpe.bpe_apply(held, merges, "text").collect()))
    shipped = sorted(
        map(tuple, bpe.bpe_apply(held, bpe.load_merges(store), "text").collect())
    )
    assert shipped == direct and len(shipped) == 4


def test_rare_token_score_reference_sketch_and_nulls(spark):
    """Sketch-as-dimension: scoring a NEW batch against a REFERENCE
    corpus's sketch flags tokens absent/rare in the reference; NULL and
    empty docs emit zero rows with rare_frac 0.0 (fail-closed)."""
    from gmall_flink_2022_spark.llm import sketch as sk

    ref = spark.createDataFrame(
        [(i, "the cat sat on the mat again and again today") for i in range(20)],
        "doc_id long, text string",
    )
    ref_sketch = sk.token_cms(ref, "text", width=256, depth=3)
    batch = spark.createDataFrame(
        [(100, "the cat sat"),              # all common in ref
         (101, "zyx qwv unseen words"),     # all absent from ref
         (102, ""), (103, None)],
        "doc_id long, text string",
    )
    out = {r["id"]: r for r in sk.rare_token_score(
        batch, "doc_id", "text", sketch=ref_sketch,
        min_freq=5, width=256, depth=3,
    ).collect()}
    assert out[100]["n_rare"] == 0 and out[100]["rare_frac"] == 0.0
    assert out[101]["n_rare"] == 4 and out[101]["rare_frac"] == 1.0
    for i in (102, 103):
        assert out[i]["n_tokens"] == 0 and out[i]["rare_frac"] == 0.0


def test_rare_token_score_cache_aside_sees_sketch_updates(spark, tmp_path):
    """The streaming rendering's cache-aside contract: the reference
    sketch is re-read from the DimStore per micro-batch, so a sketch
    updated BETWEEN batches changes the very next batch's scoring (the
    S11 replacement shape — dim re-read each batch, no stale cache)."""
    from pyspark.sql import functions as F

    from gmall_flink_2022_spark.llm import sketch as sk
    from gmall_flink_2022_spark.sources.dim_store import DimStore

    kw = dict(width=256, depth=3)
    store = DimStore(spark, str(tmp_path / "dim"))

    def save(corpus):
        grid = sk.token_cms(corpus, "text", **kw).withColumn(
            "_k",
            F.concat_ws(
                ":", F.col("rw").cast("string"), F.col("bucket").cast("string")
            ),
        )
        store.upsert("ref_sketch", grid, pk="_k")

    def score(batch):
        grid = store.read("ref_sketch").select("rw", "bucket", "cnt")
        return {
            r["id"]: r["n_rare"]
            for r in sk.rare_token_score(
                batch, "doc_id", "text", sketch=grid, min_freq=5, **kw
            ).collect()
        }

    ref1 = spark.createDataFrame(
        [(i, "the cat sat on the mat") for i in range(10)],
        "doc_id long, text string",
    )
    save(ref1)
    probe = spark.createDataFrame(
        [(1, "zebra quartz")], "doc_id long, text string"
    )
    # batch 1: both probe tokens absent from the reference -> rare
    assert score(probe)[1] == 2
    # the dim advances between batches: the reference corpus grows by 10
    # docs establishing 'zebra', and the refreshed sketch is published
    # (recompute-and-publish; cell keys overlap so upsert replaces them)
    ref2 = ref1.union(spark.createDataFrame(
        [(100 + i, "zebra zebra zebra") for i in range(10)],
        "doc_id long, text string",
    ))
    save(ref2)
    # batch 2 re-reads the store: 'zebra' now common, 'quartz' still rare
    assert score(probe)[1] == 1


# ----------------------------------------------------------- r8 ADVICE fixes


def test_pre_dedup_memo_refreshes_on_source_rewrite(spark, tmp_path):
    """r7 ADVICE (dedup.py probe freshness): a source rewritten in-session
    keeps its plan (same path, same schema) but must get a FRESH probe,
    so a unique -> dup-heavy corpus flips the collapse decision."""
    from gmall_flink_2022_spark.llm import dedup

    path = str(tmp_path / "corpus")
    uniq = spark.createDataFrame(
        [(i, f"totally unique text number {i} with words {i * 7}") for i in range(200)],
        "doc_id long, text string",
    )
    uniq.write.mode("overwrite").parquet(path)
    df1 = spark.read.parquet(path)
    assert dedup._should_pre_dedup(df1, F.md5(F.col("text"))) is False

    heavy = spark.createDataFrame(
        [(i, f"same text block {i % 5}") for i in range(200)],
        "doc_id long, text string",
    )
    heavy.write.mode("overwrite").parquet(path)
    df2 = spark.read.parquet(path)
    # identical plan (same path, same schema) — only the bytes changed
    assert dedup._should_pre_dedup(df2, F.md5(F.col("text"))) is True


def test_rare_token_score_rejects_grid_mismatch(spark):
    """r7 ADVICE (sketch.py probe validation): probing with a smaller
    grid than the sketch was built with must raise loudly instead of
    silently classifying nearly every token as rare (est=0)."""
    import pytest

    from gmall_flink_2022_spark.llm import sketch as sk

    ref = spark.createDataFrame(
        [(i, "the cat sat on the mat") for i in range(10)],
        "doc_id long, text string",
    )
    big = sk.token_cms(ref, "text", width=4096, depth=6)
    batch = spark.createDataFrame(
        [(1, "the cat")], "doc_id long, text string"
    )
    out = sk.rare_token_score(
        batch, "doc_id", "text", sketch=big, min_freq=5, width=256, depth=3
    )
    with pytest.raises(Exception, match="parameter mismatch"):
        out.collect()


def test_save_load_sketch_validates_params(spark, tmp_path):
    """save_sketch persists (width, depth, seed) alongside the grid;
    load_sketch asserts they match the probe's parameters and the
    round-tripped grid scores identically to the in-memory sketch."""
    import pytest

    from gmall_flink_2022_spark.llm import sketch as sk
    from gmall_flink_2022_spark.sources.dim_store import DimStore

    store = DimStore(spark, str(tmp_path / "dim"))
    ref = spark.createDataFrame(
        [(i, "the cat sat on the mat") for i in range(10)],
        "doc_id long, text string",
    )
    grid = sk.token_cms(ref, "text", width=256, depth=3)
    sk.save_sketch(store, "s", grid, width=256, depth=3)

    loaded = sk.load_sketch(store, "s", width=256, depth=3)
    assert sorted(map(tuple, loaded.collect())) == sorted(
        map(tuple, grid.collect())
    )
    with pytest.raises(ValueError, match="probe expects"):
        sk.load_sketch(store, "s", width=512, depth=3)
    with pytest.raises(ValueError, match="probe expects"):
        sk.load_sketch(store, "s", width=256, depth=3, seed="other")


def test_driver_sim_canon_rows_dtype_aware():
    """r7 ADVICE (driver_sim comparison): float32-vs-float64 promotion,
    -0.0, NaN, and int-vs-whole-float must not flip the verdict; genuine
    value differences still must."""
    import numpy as np
    import pandas as pd

    from tools.driver_sim import canon_rows

    a = pd.DataFrame(
        {
            "x": np.array([1.0, -0.0, np.nan, 0.1], dtype="float32"),
            "k": np.array([1, 2, 3, 4], dtype="int64"),
        }
    )
    b = pd.DataFrame(
        {
            "x": np.array(
                [1.0, 0.0, np.nan, np.float64(np.float32(0.1))], dtype="float64"
            ),
            "k": np.array([1.0, 2.0, 3.0, 4.0], dtype="float64"),
        }
    )
    assert canon_rows(a) == canon_rows(b)
    c = b.copy()
    c.loc[0, "x"] = 1.5
    assert canon_rows(a) != canon_rows(c)


def test_cms_heavy_hitters_scale_matches_exact(spark, sf_dir):
    """The scale-safe variant returns EXACTLY the true heavy hitters
    (pigeonhole candidates can't miss one; the exact filter removes the
    extras), with est >= exact on every row."""
    from gmall_flink_2022_spark.llm import sketch as sk
    from gmall_flink_2022_spark.sources.io import read_table

    docs = read_table(spark, sf_dir, "documents")
    got = sk.cms_heavy_hitters_scale(
        docs, "text", min_count=50, width=1024, depth=4
    ).collect()
    from gmall_flink_2022_spark.llm.text import _toks_or_empty

    truth = {
        r["token"]: r["n"]
        for r in docs.select(F.explode(_toks_or_empty("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 50)
        .collect()
    }
    assert {r["token"] for r in got} == set(truth)
    for r in got:
        assert r["exact_cnt"] == truth[r["token"]]
        assert r["cms_est"] >= r["exact_cnt"]


def test_dsir_gumbel_k_determinism_and_temperature(spark, sf_dir):
    """VERDICT r7 ask #6 property test: Gumbel-top-k keeps exactly k
    docs, is deterministic across invocations, never selects a
    feature-less doc, actually perturbs the T=1 selection away from the
    deterministic truncation, and converges to score-monotone selection
    as T -> 0 (noise span < one score unit)."""
    from gmall_flink_2022_spark.llm import dsir
    from gmall_flink_2022_spark.sources.io import read_table

    d = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    raw = d.filter(F.col("doc_id") % 20 != 0)
    tgt = d.filter(F.col("doc_id") % 20 == 0)
    k = 50

    out1 = dsir.dsir_select_gumbel(raw, tgt, k=k, temperature=1.0).collect()
    out2 = dsir.dsir_select_gumbel(raw, tgt, k=k, temperature=1.0).collect()
    kept1 = {r["id"] for r in out1 if r["keep"]}
    kept2 = {r["id"] for r in out2 if r["keep"]}
    assert len(kept1) == k and kept1 == kept2
    assert all(r["n_feats"] > 0 for r in out1 if r["keep"])
    # every raw doc is in the output with an auditable boundary
    assert len(out1) == raw.count()

    det = {
        r["id"]
        for r in dsir.dsir_select(raw, tgt, k=k).collect()
        if r["keep"]
    }
    # hot temperature: noise span (~633k / (ln2*SCALE/T)) covers tens of
    # score units, so sampling visibly diverges from truncation even on
    # a corpus whose top-k scores are widely separated
    hot = {
        r["id"]
        for r in dsir.dsir_select_gumbel(raw, tgt, k=k, temperature=8.0).collect()
        if r["keep"]
    }
    assert hot != det, "hot-temperature Gumbel selection never perturbed anything"

    # T small enough that one score unit (ln2/T * SCALE) dwarfs the
    # noise span -> selection is score-ordered up to boundary ties
    cold = dsir.dsir_select_gumbel(raw, tgt, k=k, temperature=0.05).collect()
    kept_scores = [r["score"] for r in cold if r["keep"]]
    drop_scores = [r["score"] for r in cold if not r["keep"] and r["n_feats"] > 0]
    assert min(kept_scores) >= max(drop_scores)


def test_hll_registers_merge_and_estimate(spark, sf_dir):
    """HLL properties: (1) registers merge by MAX across shards to
    exactly the whole-corpus table (the property that makes the
    streaming/sharded renderings settle to the batch answer); (2) the
    raw estimate lands within the expected error envelope of the exact
    distinct count (m=256 -> ~6.5% standard error; assert 20%);
    (3) ranks stay in [1, 33]."""
    from gmall_flink_2022_spark.llm import sketch as sk
    from gmall_flink_2022_spark.sources.io import read_table

    ev = read_table(spark, sf_dir, "events").select("event_type", "user_id")
    whole = sk.hll_registers(ev, "user_id", ["event_type"])
    s1 = sk.hll_registers(ev.filter(F.col("user_id") % 2 == 0), "user_id", ["event_type"])
    s2 = sk.hll_registers(ev.filter(F.col("user_id") % 2 == 1), "user_id", ["event_type"])
    merged = (
        s1.unionByName(s2)
        .groupBy("event_type", "bucket")
        .agg(F.max("rho").alias("rho"))
    )
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, whole.collect())
    )

    rows = whole.collect()
    assert all(1 <= r["rho"] <= 33 for r in rows)

    import math

    m = sk.HLL_M
    est = {}
    for r in sk.hll_estimate(whole, ["event_type"]).collect():
        e = r["raw_est"]
        # the standard small-range (linear counting) correction the
        # operator deliberately leaves to consumers (ln() stays out of
        # the engines; v_zero is emitted for exactly this)
        if e <= 2.5 * m and r["v_zero"] > 0:
            e = m * math.log(m / r["v_zero"])
        est[r["event_type"]] = e
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for et, n in exact.items():
        assert abs(est[et] - n) / n < 0.20, (et, est[et], n)


def test_histogram_quantile_bound_and_merge(spark, sf_dir):
    """Histogram sketch properties: (1) shard histograms merge by SUM to
    the whole-corpus histogram; (2) each quantile answer brackets the
    true (percentile_disc-style) quantile within one bucket width."""
    from gmall_flink_2022_spark.llm import sketch as sk
    from gmall_flink_2022_spark.sources.io import read_table

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    w, bins = 512, 256
    whole = sk.value_histogram(li, "l_extendedprice", width=w, n_bins=bins)
    s1 = sk.value_histogram(
        li.filter(F.col("l_orderkey") % 2 == 0), "l_extendedprice", w, bins
    )
    s2 = sk.value_histogram(
        li.filter(F.col("l_orderkey") % 2 == 1), "l_extendedprice", w, bins
    )
    merged = (
        s1.unionByName(s2).groupBy("bucket").agg(F.sum("cnt").alias("cnt"))
    )
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, whole.collect())
    )

    import math

    vals = sorted(r[0] for r in li.select("l_extendedprice").collect())
    for r in sk.histogram_quantiles(whole, width=w, qs=(0.5, 0.9, 0.99)).collect():
        true_q = vals[math.ceil(r["q"] * len(vals)) - 1]
        assert r["est_hi"] - w < true_q <= r["est_hi"], (r, true_q)
        assert r["n"] == len(vals)


def test_hll_and_histogram_store_roundtrip_validation(spark, tmp_path):
    """The validated-persistence pattern generalized across the sketch
    family: HLL registers and histograms round-trip through a DimStore
    with their build parameters, and a mismatched probe raises instead
    of silently reading the wrong grid."""
    import pytest

    from gmall_flink_2022_spark.llm import sketch as sk
    from gmall_flink_2022_spark.sources.dim_store import DimStore

    store = DimStore(spark, str(tmp_path / "dim"))
    ev = spark.createDataFrame(
        [(i % 7, f"t{i % 3}") for i in range(100)], "user_id long, et string"
    )
    regs = sk.hll_registers(ev, "user_id", ["et"], m=64)
    sk.save_hll(store, "regs", regs, ["et"], m=64)
    back = sk.load_hll(store, "regs", ["et"], m=64)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, regs.collect()))
    with pytest.raises(ValueError, match="probe expects"):
        sk.load_hll(store, "regs", ["et"], m=256)

    vals = spark.createDataFrame([(float(i),) for i in range(64)], "v double")
    hist = sk.value_histogram(vals, "v", width=8, n_bins=16)
    sk.save_histogram(store, "hist", hist, width=8, n_bins=16)
    back = sk.load_histogram(store, "hist", width=8, n_bins=16)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, hist.collect()))
    with pytest.raises(ValueError, match="probe expects"):
        sk.load_histogram(store, "hist", width=4, n_bins=16)


def test_dsir_score_cache_aside_sees_weight_updates(spark, tmp_path):
    """The streaming DSIR rendering's cache-aside contract (mirrors the
    sketch version): the weight table is re-read from the DimStore per
    micro-batch, so weights re-learned and published BETWEEN batches
    change the very next batch's scoring."""
    from gmall_flink_2022_spark.llm import dsir
    from gmall_flink_2022_spark.sources.dim_store import DimStore

    store = DimStore(spark, str(tmp_path / "dim"))

    def publish(raw, target):
        w = dsir.dsir_weights(raw, target, "text", n_buckets=64)
        store.upsert("w", w, pk="bucket")

    def score(batch):
        wt = store.read("w").select("bucket", "w")
        return {
            r["id"]: r["score"]
            for r in dsir.dsir_score(
                batch, wt, "doc_id", "text", n_buckets=64
            ).collect()
        }

    raw = spark.createDataFrame(
        [(i, "common words about nothing much") for i in range(20)],
        "doc_id long, text string",
    )
    t1 = spark.createDataFrame(
        [(100 + i, "quantum physics papers") for i in range(10)],
        "doc_id long, text string",
    )
    probe = spark.createDataFrame(
        [(1, "quantum physics"), (2, "common words")],
        "doc_id long, text string",
    )
    publish(raw, t1)
    s1 = score(probe)
    assert s1[1] > s1[2]  # target-domain doc preferred under t1 weights

    # the dim advances: a new target domain is published between batches
    t2 = spark.createDataFrame(
        [(200 + i, "common words everywhere") for i in range(10)],
        "doc_id long, text string",
    )
    publish(raw, t2)
    s2 = score(probe)
    # the very next batch scores under the NEW weights: the doc matching
    # the new target moves up, the old-target doc moves down (absolute
    # signs are DSIR-correct contrast vs the raw pool, not asserted)
    assert s2[2] > s1[2] and s2[1] < s1[1]


def test_pii_redact_sequencing_and_idempotence(spark):
    from gmall_flink_2022_spark.llm.text import pii_redact

    rows = [
        (1, "mail me at Bob.Smith+x@Example.COM today"),
        (2, "go to https://ex.org/u?e=a@b.co 123456789 tail"),
        (3, "order 00123456 and 99x"),
        (4, "nothing here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["id"]: r for r in pii_redact(df, "doc_id", "text").collect()}
    assert out[1]["n_emails"] == 1 and "<email>" in out[1]["clean_text"]
    # the email lives INSIDE the URL: the URL pass swallows it, so the
    # sequential email count must be 0 (it performed no replacement)
    assert out[2]["n_urls"] == 1 and out[2]["n_emails"] == 0
    assert out[2]["n_nums"] == 1 and out[2]["clean_text"] == "go to <url> <num> tail"
    assert out[3]["n_nums"] == 1 and out[3]["clean_text"] == "order <num> and 99x"
    assert out[4]["clean_text"] == "nothing here"
    # idempotent: placeholders match none of the patterns
    clean = spark.createDataFrame(
        [(k, v["clean_text"]) for k, v in out.items()], "doc_id long, text string"
    )
    again = {r["id"]: r for r in pii_redact(clean, "doc_id", "text").collect()}
    for k in out:
        assert again[k]["clean_text"] == out[k]["clean_text"]
        assert (again[k]["n_urls"], again[k]["n_emails"], again[k]["n_nums"]) == (
            0, 0, 0,
        )


def test_boilerplate_strip_df_threshold(spark):
    from gmall_flink_2022_spark.llm.dedup import boilerplate_strip

    rows = [
        (1, "cookie banner\nreal content one"),
        (2, "cookie banner\nreal content two"),
        (3, "cookie banner\nunique stuff"),
        (4, "standalone page"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    out = {
        r["id"]: r
        for r in boilerplate_strip(df, "id", "text", sep="\n").collect()
    }
    # max_df=1 (default): the banner is held by 3 docs -> dies EVERYWHERE,
    # no keep-first canonical copy survives (contrast paragraph_dedup)
    assert out[1]["clean_text"] == "real content one" and out[1]["n_removed"] == 1
    assert out[2]["clean_text"] == "real content two"
    assert out[3]["clean_text"] == "unique stuff"
    assert out[4]["clean_text"] == "standalone page" and out[4]["n_removed"] == 0
    # max_df=3 tolerates df=3: nothing is removed
    keep = {
        r["id"]: r
        for r in boilerplate_strip(df, "id", "text", sep="\n", max_df=3).collect()
    }
    assert all(keep[i]["n_removed"] == 0 for i in (1, 2, 3, 4))


def test_prefix_jaccard_matches_bruteforce(spark):
    from gmall_flink_2022_spark.llm.dedup import (
        ngram_jaccard_pairs,
        prefix_jaccard_pairs,
    )

    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon eta"),     # high overlap with 1
        (3, "alpha beta gamma theta iota kappa"),      # medium overlap
        (4, "completely different words only here"),
        (5, "alpha beta gamma delta epsilon zeta"),    # exact dup of 1
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    brute = ngram_jaccard_pairs(
        df, "doc_id", "text", n=1, threshold=0.6, max_shingle_df=None,
        pre_dedup=False,
    )
    fast = prefix_jaccard_pairs(df, "doc_id", "text", n=1, threshold_pct=60)
    key = lambda r: (r["id_a"], r["id_b"])  # noqa: E731
    b = {key(r): (r["common"], r["n_a"], r["n_b"]) for r in brute.collect()}
    f = {key(r): (r["common"], r["n_a"], r["n_b"]) for r in fast.collect()}
    assert b == f and (1, 5) in f  # exact-dup pair must surface


def test_triangle_counts_known_graph(spark):
    from gmall_flink_2022_spark.llm.graph import triangle_counts

    edges = [
        # 4-clique on 1..4 (every node closes C(3,2)=3 triangles), with
        # a duplicate and a reversed edge that must canonicalize away
        (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (2, 1), (3, 4),
        # a path 5-6-7: wedges but no closure
        (5, 6), (6, 7),
    ]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    out = {r["id"]: r["n_triangles"] for r in triangle_counts(df).collect()}
    assert out == {1: 3, 2: 3, 3: 3, 4: 3}


def test_cdc_materialize_latest_semantics(spark):
    import json

    from gmall_flink_2022_spark.sources.cdc import materialize_latest, parse_cdc

    def env(table, typ, before, after):
        return json.dumps(
            {
                "database": "gmall",
                "tableName": table,
                "before": before,
                "after": after,
                "type": typ,
            }
        )

    lines = [
        # k1: snapshot 'create' (must normalize to insert) then update wins
        env("t1", "create", None, {"pk": "k1", "op_seq": "1", "v": "old"}),
        env("t1", "update", None, {"pk": "k1", "op_seq": "2", "v": "new"}),
        # k2: inserted then deleted (delete carries only the before image)
        env("t1", "insert", None, {"pk": "k2", "op_seq": "1", "v": "x"}),
        env("t1", "delete", {"pk": "k2", "op_seq": "3", "v": "x"}, None),
        # k3: the realistic Debezium shape — the delete's before image
        # carries the LAST UPSERT'S seq, so it TIES on seq with the
        # update it tombstones; the delete-wins op_rank tiebreak must
        # prevail (r8 ADVICE: a lexicographic op comparison ranks
        # 'delete' < 'update' and resurrects the row).
        env("t1", "insert", None, {"pk": "k3", "op_seq": "1", "v": "a"}),
        env("t1", "update", None, {"pk": "k3", "op_seq": "2", "v": "b"}),
        env("t1", "delete", {"pk": "k3", "op_seq": "2", "v": "b"}, None),
        # same pk under ANOTHER table must not collide
        env("t2", "insert", None, {"pk": "k1", "op_seq": "7", "v": "other"}),
    ]
    raw = spark.createDataFrame([(v,) for v in lines], "value string")
    parsed = parse_cdc(raw)
    assert parsed.filter(parsed["type"] == "create").count() == 0  # normalized
    out = {
        (r["tableName"], r["pk"]): r
        for r in materialize_latest(parsed, "pk", "op_seq", ["v"]).collect()
    }
    assert set(out) == {("t1", "k1"), ("t2", "k1")}  # k2 tombstoned away
    assert out[("t1", "k1")]["v"] == "new" and out[("t1", "k1")]["last_seq"] == 2
    assert out[("t2", "k1")]["v"] == "other" and out[("t2", "k1")]["last_seq"] == 7


def test_lm_perplexity_quantized_log_and_ranking(spark):
    import math

    from pyspark.sql import functions as F

    from gmall_flink_2022_spark.llm.lm import _qlog2, lm_perplexity

    # qlog2: exact at powers of two, < 0.09-bit error elsewhere
    q = {
        r["x"]: r["q"]
        for r in spark.range(1, 200)
        .select(F.col("id").alias("x"), _qlog2(F.col("id")).alias("q"))
        .collect()
    }
    for x, v in q.items():
        exact = math.log2(x) * 256
        assert abs(v - exact) <= 0.09 * 256 + 1, (x, v, exact)
        if x & (x - 1) == 0:
            assert v == round(exact)

    ref = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "the dog sat on the rug")],
        "id long, text string",
    )
    sc = spark.createDataFrame(
        [(10, "the cat sat"), (11, "zebra quantum flux"), (12, "x"), (13, None)],
        "id long, text string",
    )
    out = {r["id"]: r for r in lm_perplexity(sc, ref, "id", "text").collect()}
    # short/NULL docs carry no bigram evidence and are absent
    assert set(out) == {10, 11}
    # in-domain text must score fluent-er than OOV gibberish
    assert out[10]["bits_per_token"] < out[11]["bits_per_token"]
    # the double is exactly the single division of the two exact ints
    for r in out.values():
        assert r["bits_per_token"] == r["cost_q256"] / (256 * r["n_bigrams"])


def test_decay_score_power_of_two_exact(spark):
    from pyspark.sql import functions as F

    from gmall_flink_2022_spark.plans.registry import REGISTRY

    # engine-exact contract on a hand-built frame: 3 events for one user,
    # values 1.00 / 2.00 / 4.00 oldest->newest => cents 100/200/400,
    # weights 2^13? no — rn counts from newest: 400*2^15 + 200*2^14 +
    # 100*2^13 over 100*2^15
    rows = [
        (1, "2024-01-01 00:00:01", 7, 1.0),
        (2, "2024-01-01 00:00:02", 7, 2.0),
        (3, "2024-01-01 00:00:03", 7, 4.0),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    ev.createOrReplaceTempView("_decay_ev")
    # drive the same arithmetic the registry entry uses
    import gmall_flink_2022_spark.plans.analytics as A

    r = ev.select(
        "user_id",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
        F.row_number()
        .over(
            A.W.partitionBy("user_id").orderBy(
                F.col("ts").desc(), F.col("event_id").desc()
            )
        )
        .alias("rn"),
    )
    got = (
        r.groupBy("user_id")
        .agg(
            F.sum(
                F.col("cents")
                * F.call_function(
                    "shiftleft", F.lit(1).cast("long"), (16 - F.col("rn")).cast("int")
                )
            ).alias("num")
        )
        .collect()[0]["num"]
    )
    assert got == 400 * 2**15 + 200 * 2**14 + 100 * 2**13


def test_attribution_linear_splits_evenly(spark):
    from pyspark.sql import functions as F

    from gmall_flink_2022_spark.plans.registry import REGISTRY  # noqa: F401
    import gmall_flink_2022_spark.plans.analytics  # noqa: F401

    # 1 purchase of $10.00 with 3 touches in-window (2 view, 1 click),
    # plus 1 touch outside the 24h window and 1 after the purchase
    rows = [
        (1, "2024-01-02 12:00:00", 7, "purchase", 10.0),
        (2, "2024-01-02 11:00:00", 7, "view", 0.0),
        (3, "2024-01-02 10:00:00", 7, "view", 0.0),
        (4, "2024-01-02 09:00:00", 7, "click", 0.0),
        (5, "2024-01-01 11:59:00", 7, "view", 0.0),   # > 24h before
        (6, "2024-01-02 13:00:00", 7, "click", 0.0),  # after purchase
        (7, "2024-01-02 12:00:00", 8, "purchase", 5.0),  # no touches
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp")).withColumn(
        "props", F.lit("{}")
    )
    import tempfile, os
    d = tempfile.mkdtemp()
    ev.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    from gmall_flink_2022_spark.plans.registry import REGISTRY
    out = REGISTRY["ads_attribution_linear"].fn(spark, d).collect()
    got = {(r["purchase_id"], r["channel"]): r for r in out}
    assert set(got) == {(1, "view"), (1, "click")}
    assert got[(1, "view")]["n_touches"] == 3
    assert got[(1, "view")]["channel_touches"] == 2
    assert got[(1, "view")]["attributed_revenue"] == 1000 * 2 / 300
    assert got[(1, "click")]["attributed_revenue"] == 1000 * 1 / 300


def test_dq_check_rules_single_pass_fail_closed(spark):
    from pyspark.sql import functions as F

    from gmall_flink_2022_spark.operators.quality import check_rules

    df = spark.createDataFrame(
        [(1, 10.0), (2, -1.0), (3, None)], "id long, v double"
    )
    out = {
        r["rule_name"]: r
        for r in check_rules(
            df, [("v_positive", F.col("v") <= 0), ("id_small", F.col("id") > 2)]
        ).collect()
    }
    # NULL predicate result counts as a violation (fail closed): id=3 has
    # v NULL -> v<=0 evaluates NULL -> violation
    assert out["v_positive"]["n_violations"] == 2
    assert out["id_small"]["n_violations"] == 1
    assert all(r["n_rows"] == 3 for r in out.values())


def test_dq_referential_orphans_counts(spark):
    from gmall_flink_2022_spark.operators.quality import referential_orphans

    fact = spark.createDataFrame([(1,), (2,), (2,), (9,)], "k long")
    dim = spark.createDataFrame([(1,), (2,)], "d long")
    out = referential_orphans([("fk", fact, "k", dim, "d")]).collect()
    assert out[0]["check_name"] == "fk" and out[0]["orphan_ct"] == 1


def test_curate_ccnet_stage_semantics(spark):
    from pyspark.sql import functions as F

    from gmall_flink_2022_spark.llm.curation import curate_ccnet

    ref = spark.createDataFrame(
        [(100 + i, "the cat sat on the mat and the dog ran") for i in range(4)],
        "doc_id long, text string",
    )
    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),          # fluent, unique -> kept
            (2, "the cat sat on the mat"),          # exact dup: its only
            #   segment is killed by the paragraph keep-first pass
            (3, "zq xv qqj zzk wpt vvx bbq nnj"),   # OOV gibberish (3.0
            #   bits/token on this tiny vocab) -> LM gate drops at 2.0
            (4, "x"),                               # <2 tokens -> fail closed
        ],
        "doc_id long, text string",
    )
    # threshold 2.0 bits/token (512 q256): fluent ~1.55, gibberish ~3.0
    out = curate_ccnet(docs, ref, "doc_id", "text", window=20,
                       max_bits_q256=512)
    ids = sorted(r["id"] for r in out.collect())
    assert ids == [1]


def test_k_core_peels_chains_keeps_cliques(spark):
    import pytest

    from gmall_flink_2022_spark.llm.graph import k_core

    # 4-clique + a pendant chain off node 4 + an isolated edge
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
             (4, 5), (5, 6), (7, 8)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    out = {r["id"]: r["deg"] for r in k_core(df, k=2).collect()}
    # the chain and the isolated edge peel away; the clique's degrees
    # are WITHIN-core (node 4 loses its pendant edge: 4, not 5... it had
    # clique-internal degree 3 plus the pendant -> core deg 3)
    assert out == {1: 3, 2: 3, 3: 3, 4: 3}
    # 4-core of a 4-clique is empty (max degree 3): converges to nothing
    assert k_core(df, k=4).count() == 0
    # non-convergence contract
    with pytest.raises(RuntimeError):
        k_core(df, k=2, max_rounds=0)


def test_url_normalize_and_domain(spark):
    from gmall_flink_2022_spark.llm import urls

    rows = [
        (1, "https://WWW.Example.COM/Path/To/X/#frag"),
        (2, "https://www.example.com/Path/To/X"),
        (3, "http://sub.a.shop.co.uk/p?q=1#x"),
        (4, "https://example.com"),
        (5, "https://user@host.org:8080/y/"),
        (6, "ftp://Mixed.Case.Net/Z"),
        (7, "https://a.com/p?next=/"),
        (8, "https://a.com/p/?q=1#frag"),
    ]
    df = spark.createDataFrame(rows, "id long, url string")
    out = {
        r["id"]: r
        for r in df.select(
            "id",
            urls.url_normalize(F.col("url")).alias("norm"),
            urls.host_of(F.col("url")).alias("host"),
            urls.registrable_domain(urls.host_of(F.col("url"))).alias("dom"),
        ).collect()
    }
    # case-folded host, fragment + trailing slash stripped: 1 == 2
    assert out[1]["norm"] == out[2]["norm"] == "https://www.example.com/Path/To/X"
    assert out[1]["host"] == "www.example.com"
    assert out[1]["dom"] == "example.com"
    # public-suffix pair: registrable domain keeps three labels
    assert out[3]["host"] == "sub.a.shop.co.uk"
    assert out[3]["dom"] == "shop.co.uk"
    # bare domain passes through; port and userinfo excluded from host
    assert out[4]["dom"] == "example.com"
    assert out[5]["host"] == "host.org"
    assert out[5]["norm"] == "https://user@host.org:8080/y"
    assert out[6]["host"] == "mixed.case.net"
    assert out[6]["dom"] == "case.net"
    # query present -> trailing-slash strip suppressed (a '/' ending a
    # query VALUE is data, not a path separator; r9 ADVICE)
    assert out[7]["norm"] == "https://a.com/p?next=/"
    # ...including a path-trailing slash BEFORE the '?': preserved too
    # (the rule is all-or-nothing on '?' presence), fragment still cut
    assert out[8]["norm"] == "https://a.com/p/?q=1"


def test_domain_capped_sample_semantics(spark):
    from gmall_flink_2022_spark.llm import urls
    from gmall_flink_2022_spark.llm.sampling import _u32

    docs = spark.createDataFrame(
        [(i, f"https://big.com/p/{i}" if i < 80 else f"https://small.org/p/{i}")
         for i in range(100)],
        "doc_id long, url string",
    )
    rep = {r["domain"]: r for r in
           urls.domain_capped_sample(docs, cap=30).collect()}
    assert rep["big.com"]["n_docs"] == 80
    assert rep["small.org"]["n_docs"] == 20
    # small domain under the cap keeps everything (rate clamps at 1)
    assert rep["small.org"]["thresh_q32"] == 1 << 32
    assert rep["small.org"]["n_selected"] == 20
    # big domain downsampled: selection is the deterministic Bernoulli
    got = rep["big.com"]["n_selected"]
    thresh = rep["big.com"]["thresh_q32"]
    assert thresh == int((30 / 80) * (1 << 32))
    want = docs.filter(
        (F.col("doc_id") < 80) & (_u32(F.col("doc_id")) < thresh)
    ).count()
    assert got == want


def test_prefix_pairs_pre_dedup_equivalence(spark):
    """prefix_jaccard_pairs with the exact-duplicate collapse must be
    bit-identical to the uncollapsed run — rep expansion, n_a/n_b flip
    on reordered pairs, jaccard exactly 1.0 within families, zero-shingle
    families silent."""
    from gmall_flink_2022_spark.llm.dedup import prefix_jaccard_pairs

    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon zeta"),   # exact dup of 1
        (7, "alpha beta gamma delta epsilon zeta"),   # and another
        (3, "alpha beta gamma delta epsilon eta"),    # near-dup of the family
        (4, "one two three four five six seven"),
        (5, "one two three four five six eight"),     # near-dup of 4
        (6, "xx yy"),                                  # < n tokens: no shingles
        (8, "xx yy"),                                  # zero-shingle family
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def canon(out):
        return sorted(
            (r["id_a"], r["id_b"], r["common"], r["n_a"], r["n_b"],
             round(r["jaccard"], 12))
            for r in out.collect()
        )

    a = canon(prefix_jaccard_pairs(df, "doc_id", "text", n=3,
                                   threshold_pct=50, pre_dedup=False))
    b = canon(prefix_jaccard_pairs(df, "doc_id", "text", n=3,
                                   threshold_pct=50, pre_dedup=True))
    assert a == b
    # the family (1,2,7) must appear as all three pairs with jaccard 1.0
    ones = [t for t in b if t[5] == 1.0]
    assert {(t[0], t[1]) for t in ones} == {(1, 2), (1, 7), (2, 7)}
    # zero-shingle family (6,8) is silent
    assert not any(t[0] == 6 or t[1] == 8 for t in b)


def test_funnel_strict_ordering(spark):
    """Funnel steps only count STRICTLY AFTER entry into the previous
    step: a click before the first view, or a purchase before the first
    qualifying click, must not convert."""
    import datetime as dt

    from gmall_flink_2022_spark.plans.registry import REGISTRY

    base = dt.datetime(2024, 1, 1, 12, 0, 0)

    def ev(i, uid, typ, minute):
        return (i, base + dt.timedelta(minutes=minute), uid, typ, 1.0, "{}")

    rows = [
        # u1: full ordered funnel
        ev(1, 1, "view", 0), ev(2, 1, "click", 5), ev(3, 1, "purchase", 9),
        # u2: click BEFORE the first view -> no conversion
        ev(4, 2, "click", 0), ev(5, 2, "view", 5),
        # u3: purchase before the qualifying click -> view+click only
        ev(6, 3, "view", 0), ev(7, 3, "purchase", 2), ev(8, 3, "click", 4),
        # u4: view only
        ev(9, 4, "view", 1),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    import tempfile, shutil, os
    d = tempfile.mkdtemp(prefix="gmall_funnel_fix_")
    try:
        df.write.parquet(os.path.join(d, "events.parquet"))
        out = REGISTRY["ads_funnel_conversion"].fn(spark, d).collect()
        assert len(out) == 1
        r = out[0]
        assert (r["n_view"], r["n_click_after_view"],
                r["n_purchase_after_click"]) == (4, 2, 1)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_cachereg_track_and_release(spark):
    """The shared cache registry (r9 ADVICE): track persists and
    release_all drops it; the leak warning fires once past the soft
    threshold."""
    from gmall_flink_2022_spark.llm import cachereg

    cachereg.release_all()  # clean slate
    df = cachereg.track(spark.range(10))
    df.count()
    assert df.is_cached
    cachereg.release_all()
    assert not df.is_cached
    import warnings as W

    try:
        with W.catch_warnings(record=True) as rec:
            W.simplefilter("always")
            for _ in range(cachereg.WARN_THRESHOLD + 1):
                cachereg.track(spark.range(1))
        assert any(issubclass(w.category, ResourceWarning) for w in rec)
    finally:
        cachereg.release_all()


def test_cachereg_stage_runs_once_under_aqe(spark):
    """stage() is one eager localCheckpoint planned under the session's
    own AQE setting: the phase runs exactly once, at stage() time, and
    later actions read the checkpoint blocks instead of re-running it.
    stage() writes no Spark conf, so concurrent callers cannot leave
    AQE switched off."""
    import threading

    from gmall_flink_2022_spark.llm import cachereg

    cachereg.release_all()
    calls = spark.sparkContext.accumulator(0)

    def bucket(x):
        calls.add(1)
        return x % 5

    n = 64
    df = (
        spark.range(n)
        .select(F.udf(bucket, "long")("id").alias("b"))
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    try:
        staged = cachereg.stage(df)
        assert calls.value == n  # the phase ran at stage() time
        assert staged.count() == 5
        assert sorted(r["c"] for r in staged.collect()) == [12, 13, 13, 13, 13]
        assert calls.value == n  # ...and never again

        errors = []

        def stage_in_thread():
            try:
                cachereg.stage(
                    spark.range(100).groupBy((F.col("id") % 3).alias("g")).count()
                )
            except Exception as exc:  # noqa: BLE001 — surfaced below
                errors.append(exc)

        threads = [threading.Thread(target=stage_in_thread) for _ in range(2)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
        assert not any(t.is_alive() for t in threads)
        assert not errors
        assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    finally:
        cachereg.release_all()


def test_cachereg_stage_blocks_released(spark):
    """r17 (r16 VERDICT #5): checkpoint RDD blocks are RDD-level cache,
    invisible to Dataset.unpersist/catalog.clearCache; release_all()
    must free them promptly instead of leaving them to driver GC +
    ContextCleaner."""
    from pyspark.sql import functions as F

    from gmall_flink_2022_spark.llm import cachereg

    cachereg.release_all()
    jsc = spark.sparkContext._jsc.sc()

    def cached_rdd_ids():
        return {i.id() for i in jsc.getRDDStorageInfo()}

    base = cached_rdd_ids()
    staged = cachereg.stage(
        spark.range(1000).groupBy((F.col("id") % 7).alias("g")).count()
    )
    assert staged.count() == 7
    added = cached_rdd_ids() - base
    assert added, "materialized stage() left no cached blocks to test"
    cachereg.release_all()
    assert not (cached_rdd_ids() & added), (
        "release_all() left checkpoint blocks live"
    )


def test_cachereg_released_stage_leaf_raises(spark):
    """The released-leaf contract (r17 VERDICT #3): a staged frame has
    no lineage below its checkpoint, so once release_all() drops the
    blocks, re-running a plan that reads it raises instead of silently
    recomputing."""
    import pytest as _pytest

    from gmall_flink_2022_spark.llm import cachereg

    cachereg.release_all()
    staged = cachereg.stage(
        spark.range(1000).groupBy((F.col("id") % 7).alias("g")).count()
    )
    downstream = staged.filter(F.col("count") > 0).select("g")
    assert downstream.count() == 7
    cachereg.release_all()
    with _pytest.raises(Exception, match="Checkpoint block"):
        downstream.count()


def test_curate_full_skips_pre_dedup_probe(spark, sf_dir, monkeypatch):
    """curate_full's near-dup input keeps one row per content digest,
    so the HLL pre-dedup probe could only answer no: building the
    pipeline must not call it."""
    from gmall_flink_2022_spark.llm import cachereg, dedup
    from gmall_flink_2022_spark.plans.registry import REGISTRY

    def boom(*a, **k):  # pragma: no cover - should never run
        raise AssertionError("curate_full probed an exact-deduped frame")

    monkeypatch.setattr(dedup, "_should_pre_dedup", boom)
    try:
        out = REGISTRY["llm_curation_pipeline_full"].fn(spark, sf_dir)
        assert out.count() > 0
    finally:
        cachereg.release_all()


def test_prefix_jaccard_pre_dedup_releases_via_registry(spark):
    """prefix_jaccard_pairs' pre-collapse persist is tracked in the
    shared registry, so cachereg.release_all() drops it (r9 ADVICE #4)."""
    from gmall_flink_2022_spark.llm import cachereg, dedup

    cachereg.release_all()
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta eta theta") for i in range(6)]
        + [(10, "totally different words here nothing shared at all")],
        "doc_id long, text string",
    )
    out = dedup.prefix_jaccard_pairs(docs, "doc_id", "text", pre_dedup=True)
    out.count()
    with cachereg._LOCK:
        n_live = len(cachereg._LIVE)
    assert n_live >= 1
    cachereg.release_all()
    with cachereg._LOCK:
        assert not cachereg._LIVE


def test_scratch_dir_env_override(tmp_path, monkeypatch):
    import os
    import shutil

    from gmall_flink_2022_spark.sources.io import scratch_dir

    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(tmp_path))
    p = scratch_dir("probe_")
    assert p.startswith(str(tmp_path)) and os.path.isdir(p)
    monkeypatch.delenv("SPARK_GRAFT_SCRATCH")
    q = scratch_dir("probe_")
    assert not q.startswith(str(tmp_path)) and os.path.isdir(q)
    shutil.rmtree(q, ignore_errors=True)


def test_psl_rule_semantics(spark):
    """The PSL dim matcher implements the published algorithm: normal /
    wildcard / exception rules, longest match, exceptions prevail,
    implicit '*' default — r9 VERDICT ask #4's unit test."""
    from gmall_flink_2022_spark.llm import psl

    cases = {
        # implicit '*' default (TLD-only)
        "www.example.com": "example.com",
        "example.com": "example.com",
        "com": "com",                        # host IS a public suffix
        # normal multi-label rules the 14-pair literal mis-groups
        "x.y.com.sg": "y.com.sg",
        "shop.co.za": "shop.co.za",
        "www.school.k12.ma.us": "school.k12.ma.us",  # depth-3 rule
        "deep.sub.host.co.uk": "host.co.uk",
        # wildcard *.kawasaki.jp: every DIRECT CHILD is a public suffix
        "a.b.kawasaki.jp": "a.b.kawasaki.jp",
        "b.kawasaki.jp": "b.kawasaki.jp",    # IS a public suffix
        "kawasaki.jp": "kawasaki.jp",        # wildcard needs a child
        # exception !city.kawasaki.jp carves back out of the wildcard
        "city.kawasaki.jp": "city.kawasaki.jp",
        "sub.city.kawasaki.jp": "city.kawasaki.jp",
        # wildcard TLD *.ck with exception !www.ck (the canonical pair)
        "foo.bar.ck": "foo.bar.ck",
        "www.ck": "www.ck",
        "a.www.ck": "www.ck",
    }
    df = spark.createDataFrame(
        [(i, h) for i, h in enumerate(cases)], "id long, host string"
    )
    out = psl.registrable_domain_psl(df, "host", psl.psl_rules_df(spark))
    got = {r["host"]: r["domain"] for r in out.collect()}
    assert got == cases


def test_domain_capped_topk_exact(spark):
    """domain_capped_topk keeps EXACTLY min(cap, n_d) rows per domain
    (the Bernoulli variant only does so in expectation), ranks are
    dense 1..k, and membership is deterministic across runs."""
    from gmall_flink_2022_spark.llm import urls

    docs = spark.createDataFrame(
        [(i, f"https://big.com/p/{i}" if i < 80 else f"https://small.org/p/{i}")
         for i in range(100)],
        "doc_id long, url string",
    )
    out = urls.domain_capped_topk(docs, cap=30).collect()
    by_dom = {}
    for r in out:
        by_dom.setdefault(r["domain"], []).append((r["rk"], r["id"]))
    assert len(by_dom["big.com"]) == 30          # exactly cap
    assert len(by_dom["small.org"]) == 20        # all of an under-cap domain
    assert sorted(rk for rk, _ in by_dom["big.com"]) == list(range(1, 31))
    again = urls.domain_capped_topk(docs, cap=30).collect()
    assert {(r["id"], r["rk"]) for r in again} == {
        (r["id"], r["rk"]) for r in out
    }


def test_url_dedup_corpus_view(spark):
    """url_dedup_corpus = the surviving rows of the keep-first dedup —
    one row per normalized URL, carrying the min id, no second corpus
    pass (it is the map reprojected)."""
    from gmall_flink_2022_spark.llm import urls

    docs = spark.createDataFrame(
        [(1, "https://a.com/x/"), (2, "https://a.com/x"),
         (3, "https://a.com/x#frag"), (4, "https://b.org/y")],
        "doc_id long, url string",
    )
    out = {(r["doc_id"], r["norm_url"])
           for r in urls.url_dedup_corpus(docs).collect()}
    assert out == {(1, "https://a.com/x"), (4, "https://b.org/y")}


def test_psl_custom_depth_rules(spark):
    """registrable_domain_psl parameterizes beyond the bundled depth:
    a depth-4 rule table (pvt.k12.ma.us) matches at max_labels=4, and
    the same host falls back to the bundled depth-3 rule when only the
    default table is used — the full-PSL swap is a data change."""
    from gmall_flink_2022_spark.llm import psl

    rules4 = spark.createDataFrame(
        [("pvt.k12.ma.us", "n"), ("k12.ma.us", "n")],
        "suffix string, kind string",
    )
    df = spark.createDataFrame(
        [(1, "school.pvt.k12.ma.us"), (2, "www.school.pvt.k12.ma.us")],
        "id long, host string",
    )
    got4 = {
        r["host"]: r["domain"]
        for r in psl.registrable_domain_psl(
            df, "host", rules4, max_labels=4
        ).collect()
    }
    assert got4 == {
        "school.pvt.k12.ma.us": "school.pvt.k12.ma.us",
        "www.school.pvt.k12.ma.us": "school.pvt.k12.ma.us",
    }
    # bundled table (depth 3): k12.ma.us is the longest match instead
    got3 = {
        r["host"]: r["domain"]
        for r in psl.registrable_domain_psl(
            df, "host", psl.psl_rules_df(spark)
        ).collect()
    }
    assert got3 == {
        "school.pvt.k12.ma.us": "pvt.k12.ma.us",
        "www.school.pvt.k12.ma.us": "pvt.k12.ma.us",
    }


# ------------------------------------------------------------------ r11

def test_normalize_text_unit_cases(spark):
    """normalize_text: NFC composes decomposed accents, C0/DEL strip,
    NBSP + whitespace-run collapse, trim; null text passes through as
    null (fail-open for the caller to gate)."""
    from gmall_flink_2022_spark.llm import text as T

    cases = [
        (0, "Café x"),          # decomposed -> composed é
        (1, "a\x07b\x00c\x7fd"),      # controls stripped
        (2, "a\u00a0\u00a0 b"),  # NBSP run + space -> one space
        (3, "  lead \t\n trail  "),   # collapse + trim
        (4, None),
        (5, "é"),                # already composed: unchanged
    ]
    df = spark.createDataFrame(cases, "id long, raw string")
    got = {
        r["id"]: r["n"]
        for r in T.normalize_text(df, "raw", out_col="n").collect()
    }
    assert got[0] == "Café x" and len(got[0]) == 6
    assert got[1] == "abcd"
    assert got[2] == "a b"
    assert got[3] == "lead trail"
    assert got[4] is None
    assert got[5] == "é"


def test_minhash_dup_rate_counts_planted_dupes(spark):
    """The dup-rate rollup counts each document once no matter how many
    verified pairs it appears in: a planted 3-family + 1 unique doc
    gives n_dup_docs = 3 (not 6 pair endpoints) over n_docs = 4."""
    from gmall_flink_2022_spark.llm import dedup

    fam = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, fam),
        (2, fam),
        (3, fam + " extra"),
        (4, "completely different words about spark physical plans here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = dedup.minhash_lsh_pairs(
        df, "doc_id", "text", n=3, num_hashes=8, bands=2, threshold=0.4
    )
    dup_ids = {
        r["doc_id"]
        for r in pairs.select(
            F.explode(F.array("id_a", "id_b")).alias("doc_id")
        ).distinct().collect()
    }
    assert dup_ids == {1, 2, 3}
    n_dup = len(dup_ids)
    assert n_dup / 4 == 0.75


def test_blocklist_bottom_k_tie_determinism(spark):
    """The bottom-k blocklist rank orders by (keep_rate, domain): equal
    keep-rates resolve by domain name, so the blocked set is a pure
    function of the rate table — retry- and engine-stable (three
    domains tie at 0.5; k=2 must block exactly the two lexicographically
    smallest of the tie after the strictly-worse one)."""
    from pyspark.sql import Window

    rows = [
        ("a.com", 0.5),
        ("c.com", 0.5),
        ("b.com", 0.5),
        ("z.com", 0.1),
        ("good.com", 0.9),
    ]
    rates = spark.createDataFrame(rows, "domain string, keep_rate double")
    w = Window.orderBy(F.col("keep_rate").asc(), F.col("domain").asc())
    blocked = {
        r["domain"]
        for r in rates.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 2)
        .collect()
    }
    assert blocked == {"z.com", "a.com"}

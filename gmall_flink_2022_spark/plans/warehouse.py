"""Reference-parity queries (SURVEY §2) rendered over the driver testdata.

Table mapping (FIXTURES.md §7): orders→order_info, lineitem→order_detail,
customer→dim_user_info, nation/region→dim_base_province, part/supplier→sku
dims, events→behavior-log stream.

Every query here is paired with a DuckDB oracle (registry docstring explains
the determinism conventions). Aliases match exactly on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.dwd import route_cdc
from ..operators.dwm import (
    bounce_detect_batch,
    enrich_dims,
    first_event_per_key_per_day,
    interval_join,
    sessionize_batch,
)
from ..sources.io import local_frame, read_table
from .registry import register

DEC = "decimal(18,2)"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_table(spark, sf_dir, name)


# --------------------------------------------------------------------------
# Flagship: pricing summary (TPC-H Q1 shape; SURVEY A1/A2 family — grouped
# incremental aggregation with decimal sums, the reference's bread-and-butter
# ReduceFunction+WindowFunction pattern in batch form).
# --------------------------------------------------------------------------
@register(
    "dws_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                / COUNT(*) AS DOUBLE) AS avg_qty,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    survey_ref="§2.4 A1/A2 (grouped reduce), §2.7 F-family",
    tags=("agg", "flagship"),
    bench=True,
)
def dws_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast(DEC)
    price = F.col("l_extendedprice").cast(DEC)
    disc = F.col("l_discount").cast(DEC)
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(price * (F.lit(1) - disc)).cast("double").alias("sum_disc_price"),
            (F.sum(qty).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# --------------------------------------------------------------------------
# P1/P3 — JSON parse + split: the behavior-log path over `events`
# (props is a JSON string payload; parse, split one stream into typed
# derivatives, explode nothing here — display-explode covered in tests).
# --------------------------------------------------------------------------
@register(
    "dwd_log_split_page",
    oracle="""
    SELECT event_id, user_id, event_type,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k,
           ts
    FROM events
    WHERE event_type IN ('view', 'click')
    """,
    survey_ref="§2.2 P1 (from_json), P3 (stream split)",
    tags=("dwd",),
)
def dwd_log_split_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    parsed = ev.withColumn(
        "j", F.from_json("props", "struct<k: bigint>")
    )
    return parsed.filter(F.col("event_type").isin("view", "click")).select(
        "event_id",
        "user_id",
        "event_type",
        F.col("j.k").alias("prop_k"),
        "ts",
    )


# --------------------------------------------------------------------------
# P5/J5 — config-driven dynamic routing via broadcast join. The routing
# config (source_table/operate_type -> sink_type/sink_table) is an inline
# table, exactly the role of the reference's `table_process` CDC stream.
# --------------------------------------------------------------------------
_ROUTES = [
    ("view", "kafka", "dwd_page_log"),
    ("click", "kafka", "dwd_display_log"),
    ("purchase", "kafka", "dwd_order_info"),
    ("signup", "hbase", "dim_user_info"),
    # 'error' deliberately unrouted -> dropped, matching
    # TableProcessFunction.java:74-78 "no route" branch.
]


def _route_config(spark: SparkSession) -> DataFrame:
    """The routing table as a driver-built local relation."""
    return local_frame(
        spark,
        [(s, "insert", t, tbl) for s, t, tbl in _ROUTES],
        "source_table string, operate_type string, sink_type string, sink_table string",
    )


@register(
    "dwd_db_route",
    oracle="""
    WITH cfg(source_table, sink_type, sink_table) AS (
        VALUES ('view', 'kafka', 'dwd_page_log'),
               ('click', 'kafka', 'dwd_display_log'),
               ('purchase', 'kafka', 'dwd_order_info'),
               ('signup', 'hbase', 'dim_user_info')
    )
    SELECT e.event_id, e.user_id, e.event_type, c.sink_type, c.sink_table
    FROM events e JOIN cfg c ON e.event_type = c.source_table
    """,
    survey_ref="§2.3 J5 (broadcast config join), §2.2 P5 (dynamic router)",
    tags=("dwd", "join"),
)
def dwd_db_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").withColumnRenamed("event_type", "tableName")
    ev = ev.withColumn("type", F.lit("insert"))
    routed = route_cdc(ev, _route_config(spark))
    return routed.select(
        "event_id",
        "user_id",
        F.col("tableName").alias("event_type"),
        "sink_type",
        "sink_table",
    )


# --------------------------------------------------------------------------
# S1/S2 + compaction — CDC changelog materialized to latest row state.
# The changelog is synthesized deterministically from orders (no binlog in
# the container): every order inserts (as Debezium 'create', exercising
# the create->insert normalization), every 5th updates to status 'P',
# every 10th then deletes — so the output exercises insert-only,
# update-wins and tombstone paths. The JSON-envelope round trip
# (to_json -> parse_cdc) is engine-internal; the oracle builds the same
# changelog as typed rows and takes the per-key max-seq survivor.
# --------------------------------------------------------------------------
def _cdc_changelog_envelopes(o: DataFrame) -> DataFrame:
    """Synthesize the deterministic Debezium-envelope changelog from an
    orders frame (batch OR streaming — narrow maps and a same-schema
    union only). Shared by dwd_cdc_materialize and its streaming twin."""
    pk = F.col("o_orderkey").cast("string")
    price = F.col("o_totalprice").cast("decimal(15,2)").cast("string")
    nomap = F.lit(None).cast("map<string,string>")

    def env(before, after, typ: str):
        return F.to_json(
            F.struct(
                F.lit("gmall").alias("database"),
                F.lit("order_info").alias("tableName"),
                before.alias("before"),
                after.alias("after"),
                F.lit(typ).alias("type"),
            )
        ).alias("value")

    ins = o.select(
        env(
            nomap,
            F.create_map(
                F.lit("pk"), pk, F.lit("op_seq"), F.lit("1"),
                F.lit("status"), F.col("o_orderstatus"), F.lit("price"), price,
            ),
            "create",  # Debezium snapshot op; parse_cdc must normalize
        )
    )
    upd = o.filter(F.col("o_orderkey") % 5 == 0).select(
        env(
            nomap,
            F.create_map(
                F.lit("pk"), pk, F.lit("op_seq"), F.lit("2"),
                F.lit("status"), F.lit("P"), F.lit("price"), price,
            ),
            "update",
        )
    )
    # Realistic Debezium delete: only the BEFORE image, whose op_seq is
    # the last upsert's seq (2 — every %10 key also got the %5 update).
    # materialize_latest must tombstone these via the delete-wins
    # op_rank tiebreak, not rely on a higher seq.
    dele = o.filter(F.col("o_orderkey") % 10 == 0).select(
        env(
            F.create_map(F.lit("pk"), pk, F.lit("op_seq"), F.lit("2")),
            nomap,
            "delete",
        )
    )
    return ins.unionAll(upd).unionAll(dele)


def _cdc_materialized(raw: DataFrame) -> DataFrame:
    from ..sources.cdc import materialize_latest, parse_cdc

    mat = materialize_latest(parse_cdc(raw), "pk", "op_seq", ["status", "price"])
    return mat.select(
        F.col("pk").cast("long").alias("pk"),
        "last_seq",
        "status",
        F.col("price").cast("decimal(15,2)").cast("double").alias("price"),
    )



@register(
    "dwd_cdc_materialize",
    oracle="""
    WITH ch AS (
        SELECT o_orderkey AS pk, 1 AS seq, 'insert' AS op,
               o_orderstatus AS status,
               CAST(CAST(o_totalprice AS DECIMAL(15,2)) AS VARCHAR) AS price
        FROM orders
        UNION ALL
        SELECT o_orderkey, 2, 'update', 'P',
               CAST(CAST(o_totalprice AS DECIMAL(15,2)) AS VARCHAR)
        FROM orders WHERE o_orderkey % 5 = 0
        UNION ALL
        SELECT o_orderkey, 2, 'delete', NULL, NULL
        FROM orders WHERE o_orderkey % 10 = 0
    ),
    ranked AS (
        SELECT pk, seq, op, status, price,
               row_number() OVER (
                   PARTITION BY pk
                   ORDER BY seq DESC, (op = 'delete') DESC
               ) AS rn
        FROM ch
    )
    SELECT pk, CAST(seq AS BIGINT) AS last_seq, status,
           CAST(CAST(price AS DECIMAL(15,2)) AS DOUBLE) AS price
    FROM ranked WHERE rn = 1 AND op <> 'delete'
    """,
    survey_ref="§2.1 S1/S2 (CDC envelope ingest + create->insert "
    "normalization, function/CustomerDeserialization.java:19-69) composed "
    "with latest-image compaction — the declarative analog of the "
    "reference's replay-into-Phoenix upsert path "
    "(dwd/BaseDBApp.java sink, utils/DimSinkFunction.java)",
    tags=("dwd", "cdc"),
)
def dwd_cdc_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cdc_materialized(_cdc_changelog_envelopes(_t(spark, sf_dir, "orders")))


# --------------------------------------------------------------------------
# A5 — UV dedup: first event per user per day (UniqueVisitApp semantics).
# --------------------------------------------------------------------------
@register(
    "dwm_unique_visit",
    oracle="""
    SELECT user_id, strftime(ts, '%Y-%m-%d') AS dt, MIN(ts) AS first_ts
    FROM events
    GROUP BY user_id, strftime(ts, '%Y-%m-%d')
    """,
    survey_ref="§2.4 A5 (rolling first-per-key-per-day dedup)",
    tags=("dwm", "dedup"),
    bench=True,
)
def dwm_unique_visit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    out = first_event_per_key_per_day(ev, "user_id", "ts")
    return out.withColumn("dt", F.date_format("dt", "yyyy-MM-dd"))


# --------------------------------------------------------------------------
# W6 — bounce detection, batch-lead formulation (the oracle for the stateful
# streaming variant in streaming/bounce_state.py). Entry event analog:
# event_type = 'view'; bounce iff next event of the user is missing, is
# itself a 'view', or arrives > 30 min later.
# --------------------------------------------------------------------------
@register(
    "dwm_user_jump",
    oracle="""
    WITH seq AS (
        SELECT event_id, user_id, ts, event_type,
               LEAD(ts)         OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt_ts,
               LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt_type
        FROM events
    )
    SELECT event_id, user_id, ts
    FROM seq
    WHERE event_type = 'view'
      AND (nxt_ts IS NULL OR nxt_type = 'view'
           OR nxt_ts > ts + INTERVAL 1800 SECOND)
    """,
    survey_ref="§2.6 W6 (CEP bounce; batch lead() oracle per SURVEY §7.3)",
    tags=("dwm", "cep"),
    bench=True,
)
def dwm_user_jump(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    out = bounce_detect_batch(
        ev,
        key="user_id",
        ts_col="ts",
        entry_pred=F.col("event_type") == "view",
        gap_seconds=1800,
        tiebreak="event_id",
    )
    return out.select("event_id", "user_id", "ts")


# --------------------------------------------------------------------------
# Session windows (generalization of W6; batch lag+cumsum formulation).
# --------------------------------------------------------------------------
@register(
    "dwm_sessionize",
    oracle="""
    WITH marked AS (
        SELECT user_id, ts, event_id,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR ts > LAG(ts) OVER w + INTERVAL 1800 SECOND
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        SELECT user_id, ts,
               CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        FROM marked
    )
    SELECT user_id, session_id, COUNT(*) AS n_events,
           MIN(ts) AS sess_start, MAX(ts) AS sess_end
    FROM sess
    GROUP BY user_id, session_id
    """,
    survey_ref="§2.6 W6 generalization (session windows)",
    tags=("dwm", "session"),
)
def dwm_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    sess = sessionize_batch(ev, "user_id", "ts", 1800, tiebreak="event_id")
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("sess_start"),
        F.max("ts").alias("sess_end"),
    )


# --------------------------------------------------------------------------
# J1 + J3 + J6 — OrderWide: interval join orders⋈lineitem on the key with an
# event-time band, then chained broadcast dim enrichment
# (customer -> nation -> region), then the wide-bean column merge.
# --------------------------------------------------------------------------
@register(
    "dwm_order_wide",
    oracle="""
    SELECT o.o_orderkey, l.l_linenumber,
           CAST(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l.l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           o.o_orderdate, c.c_name, n.n_name AS nation_name, r.r_name AS region_name
    FROM orders o
    JOIN lineitem l
      ON o.o_orderkey = l.l_orderkey
     AND l.l_shipdate >= o.o_orderdate
     AND l.l_shipdate <= o.o_orderdate + INTERVAL 7776000 SECOND
    LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
    survey_ref="§2.3 J1 (interval join), J3 (dim broadcast chain), J6 (merge)",
    tags=("dwm", "join"),
    bench=True,
)
def dwm_order_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    joined = interval_join(
        o,
        li,
        on=o["o_orderkey"] == li["l_orderkey"],
        left_ts=o["o_orderdate"],
        right_ts=li["l_shipdate"],
        lower_seconds=0,
        upper_seconds=90 * 24 * 3600,
    )
    wide = enrich_dims(
        joined,
        [
            (_t(spark, sf_dir, "customer"), "o_custkey", "c_custkey"),
            (_t(spark, sf_dir, "nation"), "c_nationkey", "n_nationkey"),
            (_t(spark, sf_dir, "region"), "n_regionkey", "r_regionkey"),
        ],
    )
    price = F.col("l_extendedprice").cast(DEC)
    disc = F.col("l_discount").cast(DEC)
    return wide.select(
        "o_orderkey",
        "l_linenumber",
        (price * (F.lit(1) - disc)).cast("double").alias("revenue"),
        "o_orderdate",
        "c_name",
        F.col("n_name").alias("nation_name"),
        F.col("r_name").alias("region_name"),
    )


# --------------------------------------------------------------------------
# J2 — PaymentWide analog: stream-stream interval self-join on `events` —
# each purchase joined to the same user's views in the prior 15 minutes.
# --------------------------------------------------------------------------
@register(
    "dwm_payment_wide",
    oracle="""
    SELECT p.event_id AS pay_event_id, v.event_id AS view_event_id,
           p.user_id, p.ts AS pay_ts, v.ts AS view_ts
    FROM events p
    JOIN events v
      ON p.user_id = v.user_id
     AND v.event_type = 'view'
     AND v.ts >= p.ts - INTERVAL 900 SECOND
     AND v.ts <= p.ts
    WHERE p.event_type = 'purchase'
    """,
    survey_ref="§2.3 J2 (interval join [-15 min, 0])",
    tags=("dwm", "join"),
)
def dwm_payment_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    pay = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pay_event_id"),
        F.col("user_id"),
        F.col("ts").alias("pay_ts"),
    )
    view = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_event_id"),
        F.col("user_id").alias("v_user_id"),
        F.col("ts").alias("view_ts"),
    )
    joined = interval_join(
        pay,
        view,
        on=pay["user_id"] == view["v_user_id"],
        left_ts=pay["pay_ts"],
        right_ts=view["view_ts"],
        lower_seconds=-900,
        upper_seconds=0,
    )
    return joined.select("pay_event_id", "view_event_id", "user_id", "pay_ts", "view_ts")


# --------------------------------------------------------------------------
# A1 — VisitorStats: tumbling 1 h windows × event_type; pv/uv/value sums
# with the reference's stt/edt formatted bounds.
# --------------------------------------------------------------------------
@register(
    "dws_visitor_stats",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS stt,
           strftime(date_trunc('hour', ts) + INTERVAL 3600 SECOND,
                    '%Y-%m-%d %H:%M:%S') AS edt,
           event_type,
           COUNT(*) AS pv_ct,
           COUNT(DISTINCT user_id) AS uv_ct,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS dur_sum
    FROM events
    GROUP BY date_trunc('hour', ts), event_type
    """,
    survey_ref="§2.4 A1 (keyed tumbling window reduce + bound stamping)",
    tags=("dws", "agg", "window"),
    bench=True,
)
def dws_visitor_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    fmt = "yyyy-MM-dd HH:mm:ss"
    hour = F.date_trunc("hour", F.col("ts"))
    return (
        ev.groupBy(hour.alias("w_start"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("pv_ct"),
            F.countDistinct("user_id").alias("uv_ct"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("dur_sum"),
        )
        .select(
            F.date_format("w_start", fmt).alias("stt"),
            F.date_format(
                F.col("w_start") + F.expr("INTERVAL 3600 SECONDS"), fmt
            ).alias("edt"),
            "event_type",
            "pv_ct",
            "uv_ct",
            "dur_sum",
        )
    )


# --------------------------------------------------------------------------
# A2 + J4 — ProductStats: windowed agg with exact distinct-order counting,
# then post-aggregation dim enrichment (part joined after the agg, exactly
# like ProductStatsApp's post-window async dim chain).
# --------------------------------------------------------------------------
@register(
    "dws_product_stats",
    oracle="""
    WITH agg AS (
        SELECT date_trunc('day', l_shipdate) AS dt, l_partkey,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS order_amount,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sku_num,
               COUNT(DISTINCT l_orderkey) AS order_ct
        FROM lineitem
        GROUP BY date_trunc('day', l_shipdate), l_partkey
    )
    SELECT a.dt, a.l_partkey, p.p_brand, p.p_name,
           a.order_amount, a.sku_num, a.order_ct
    FROM agg a LEFT JOIN part p ON a.l_partkey = p.p_partkey
    """,
    survey_ref="§2.4 A2 (distinct-set windowed agg), §2.3 J4 (post-agg dim join)",
    tags=("dws", "agg", "window"),
    bench=True,
)
def dws_product_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    agg = (
        li.groupBy(
            F.date_trunc("day", F.col("l_shipdate")).alias("dt"), "l_partkey"
        ).agg(
            F.sum(F.col("l_extendedprice").cast(DEC))
            .cast("double")
            .alias("order_amount"),
            F.sum(F.col("l_quantity").cast(DEC)).cast("double").alias("sku_num"),
            F.countDistinct("l_orderkey").alias("order_ct"),
        )
    )
    return enrich_dims(agg, [(part, "l_partkey", "p_partkey")]).select(
        "dt", "l_partkey", "p_brand", "p_name", "order_amount", "sku_num", "order_ct"
    )


# --------------------------------------------------------------------------
# A3 — ProvinceStats: the declarative Flink-SQL path rendered as spark.sql
# text over temp views (count(DISTINCT) + window + dim join in one query).
# --------------------------------------------------------------------------
@register(
    "dws_province_stats",
    oracle="""
    SELECT n.n_name AS province_name,
           date_trunc('day', o.o_orderdate) AS dt,
           COUNT(DISTINCT o.o_orderkey) AS order_count,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS order_amount
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name, date_trunc('day', o.o_orderdate)
    """,
    survey_ref="§2.4 A3 (SQL tumble + COUNT DISTINCT), §3.3 declarative path",
    tags=("dws", "sql", "agg"),
    bench=True,
)
def dws_province_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    for name in ("orders", "customer", "nation"):
        _t(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(
        """
        SELECT n.n_name AS province_name,
               date_trunc('day', o.o_orderdate) AS dt,
               COUNT(DISTINCT o.o_orderkey) AS order_count,
               CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS order_amount
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name, date_trunc('day', o.o_orderdate)
        """
    )


# --------------------------------------------------------------------------
# A4 + U1 — KeywordStats: tokenize (UDTF-equivalent: array split + explode)
# then count per word.
# --------------------------------------------------------------------------
@register(
    "dws_keyword_stats",
    oracle="""
    SELECT word, COUNT(*) AS ct, 'doc' AS source
    FROM (SELECT UNNEST(list_filter(
                   regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                   t -> t <> '')) AS word
          FROM documents)
    GROUP BY word
    """,
    survey_ref="§2.4 A4 (word count), §2.7 U1 (split_words UDTF -> explode)",
    tags=("dws", "udtf", "agg"),
    bench=True,
)
def dws_keyword_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda t: t != ""
    )
    return (
        docs.select(F.explode(toks).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("ct"))
        .withColumn("source", F.lit("doc"))
    )


# --------------------------------------------------------------------------
# A6 — serving GMV by date (the /api/sugar/gmv query generalized per-date).
# --------------------------------------------------------------------------
@register(
    "ads_gmv_by_date",
    oracle="""
    SELECT strftime(o_orderdate, '%Y-%m-%d') AS dt,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS order_amount
    FROM orders
    GROUP BY strftime(o_orderdate, '%Y-%m-%d')
    """,
    survey_ref="§2.4 A6 (serving GMV), §2.8 serving surface",
    tags=("ads", "agg"),
)
def ads_gmv_by_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.groupBy(F.date_format("o_orderdate", "yyyy-MM-dd").alias("dt")).agg(
        F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("order_amount")
    )


# --------------------------------------------------------------------------
# A7 — serving top-N: GMV by brand, top 10 (orderBy+limit =
# TakeOrderedAndProject; deterministic tiebreak on the brand).
# --------------------------------------------------------------------------
@register(
    "ads_top_brand",
    oracle="""
    SELECT p.p_brand,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS order_amount
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    ORDER BY order_amount DESC, p.p_brand
    LIMIT 10
    """,
    survey_ref="§2.4 A7 (top-N serving agg), §2.5 sort+limit",
    tags=("ads", "agg", "topn"),
)
def ads_top_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .groupBy("p_brand")
        .agg(
            F.sum(F.col("l_extendedprice").cast(DEC))
            .cast("double")
            .alias("order_amount")
        )
        .orderBy(F.desc("order_amount"), F.asc("p_brand"))
        .limit(10)
    )


# --------------------------------------------------------------------------
# Multi-join declarative plans (prove Catalyst join reordering / broadcast
# selection on the engine's SQL surface — beyond the reference's reach but
# part of "complete query surface" at 100 TB).
# --------------------------------------------------------------------------
@register(
    "tpch_q3_shipping_priority",
    oracle="""
    SELECT l.l_orderkey,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
           o.o_orderdate
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """,
    survey_ref="§4 (Catalyst join planning on the composed SQL surface)",
    tags=("sql", "join", "agg"),
    bench=True,
)
def tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    cutoff = F.lit("1995-03-15 00:00:00").cast("timestamp")
    price = F.col("l_extendedprice").cast(DEC)
    disc = F.col("l_discount").cast(DEC)
    return (
        c.filter(F.col("c_mktsegment") == "BUILDING")
        .join(o, c["c_custkey"] == o["o_custkey"])
        .filter(F.col("o_orderdate") < cutoff)
        .join(li, li["l_orderkey"] == o["o_orderkey"])
        .filter(F.col("l_shipdate") > cutoff)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.sum(price * (F.lit(1) - disc)).cast("double").alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "tpch_q5_local_supplier",
    oracle="""
    SELECT n.n_name,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY n.n_name
    """,
    survey_ref="§4 (multi-join reordering; broadcast selection)",
    tags=("sql", "join", "agg"),
)
def tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    price = F.col("l_extendedprice").cast(DEC)
    disc = F.col("l_discount").cast(DEC)
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .join(li, F.col("l_orderkey") == o["o_orderkey"])
        .join(
            s,
            (F.col("l_suppkey") == s["s_suppkey"])
            & (c["c_nationkey"] == s["s_nationkey"]),
        )
        .join(n, s["s_nationkey"] == n["n_nationkey"])
        .join(r, n["n_regionkey"] == r["r_regionkey"])
        .groupBy("n_name")
        .agg(F.sum(price * (F.lit(1) - disc)).cast("double").alias("revenue"))
    )


@register(
    "tpch_q10_returned_items",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
           n.n_name
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
    survey_ref="§4 (multi-join + top-N serving; Q10 shape)",
    tags=("sql", "join", "agg", "topn"),
)
def tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    price = F.col("l_extendedprice").cast(DEC)
    disc = F.col("l_discount").cast(DEC)
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .join(li, F.col("l_orderkey") == o["o_orderkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(price * (F.lit(1) - disc)).cast("double").alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@register(
    "tpch_q4_order_priority",
    oracle="""
    SELECT o.o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1995-07-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate)
    GROUP BY o.o_orderpriority
    """,
    survey_ref="§4 (EXISTS + agg; semi-join under aggregation, Q4 shape)",
    tags=("sql", "semi", "agg"),
)
def tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1995-07-01 00:00:00").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    matched = o.join(
        li,
        (o["o_orderkey"] == li["l_orderkey"]) & (li["l_shipdate"] > o["o_orderdate"]),
        "left_semi",
    )
    return matched.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


@register(
    "tpch_q13_cust_distribution",
    oracle="""
    WITH per_cust AS (
        SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
        FROM customer c
        LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                          AND o.o_orderpriority <> '1-URGENT'
        GROUP BY c.c_custkey
    )
    SELECT c_count, COUNT(*) AS custdist
    FROM per_cust GROUP BY c_count
    """,
    survey_ref="§4 (outer join + double aggregation histogram, Q13 shape)",
    tags=("sql", "outer_join", "agg"),
)
def tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy(c["c_custkey"])
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "events_value_delta",
    oracle="""
    SELECT event_id, user_id, value,
           value - LAG(value) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS delta,
           LEAD(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS next_type
    FROM events
    """,
    survey_ref="§2.5 extension: lead/lag analytic window functions",
    tags=("window_fn",),
)
def events_value_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = read_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    return ev.select(
        "event_id",
        "user_id",
        "value",
        (F.col("value") - F.lag("value").over(w)).alias("delta"),
        F.lead("event_type").over(w).alias("next_type"),
    )


@register(
    "tpch_q15_top_supplier",
    oracle="""
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                   * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS total_rev
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name,
           CAST(r.total_rev AS DOUBLE) AS total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_rev = (SELECT MAX(total_rev) FROM revenue)
    """,
    survey_ref="§4 (CTE/view + scalar-max subquery, Q15 shape; the max "
    "comparison stays in exact DECIMAL so both engines pick the "
    "identical winner)",
    tags=("sql", "cte", "agg"),
)
def tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    price = F.col("l_extendedprice").cast(DEC)
    disc = F.col("l_discount").cast(DEC)
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(price * (F.lit(1) - disc)).alias("total_rev")
    )
    top = rev.agg(F.max("total_rev").alias("max_rev"))
    s = _t(spark, sf_dir, "supplier")
    return (
        rev.join(F.broadcast(top), rev["total_rev"] == top["max_rev"])
        .join(s, F.col("supplier_no") == s["s_suppkey"])
        .select(
            "s_suppkey", "s_name", F.col("total_rev").cast("double").alias("total_revenue")
        )
    )


@register(
    "tpch_q17_small_qty_revenue",
    oracle="""
    WITH per_part AS (
        SELECT l_partkey, COUNT(*) AS cnt,
               SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty
        FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
               AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey AND p.p_brand = 'Brand#23'
    JOIN per_part pp ON pp.l_partkey = l.l_partkey
    WHERE CAST(l.l_quantity AS DECIMAL(18,2)) * 5 * pp.cnt < pp.sum_qty
    """,
    survey_ref="§4 (correlated avg subquery decorrelated to a per-key "
    "aggregate join, Q17 shape; `qty < 0.2*avg(qty)` rewritten "
    "`5*qty*cnt < sum` so the comparison is exact DECIMAL — no "
    "order-dependent double average)",
    tags=("sql", "subquery", "agg"),
)
def tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("l_quantity").cast(DEC)).alias("sum_qty"),
    )
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    joined = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(per_part.withColumnRenamed("l_partkey", "pp_key"),
              F.col("pp_key") == li["l_partkey"])
        .filter(F.col("l_quantity").cast(DEC) * 5 * F.col("cnt") < F.col("sum_qty"))
    )
    return joined.agg(
        (F.sum(F.col("l_extendedprice").cast(DEC)).cast("double") / 7.0).alias(
            "avg_yearly"
        )
    )


@register(
    "tpch_q22_global_sales_opportunity",
    oracle="""
    WITH pos AS (
        SELECT COUNT(*) AS cnt,
               SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS sum_bal
        FROM customer WHERE c_acctbal > 0.0
    )
    SELECT n.n_name,
           COUNT(*) AS numcust,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    CROSS JOIN pos
    WHERE CAST(c.c_acctbal AS DECIMAL(18,2)) * pos.cnt > pos.sum_bal
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    GROUP BY n.n_name
    """,
    survey_ref="§4 (global scalar subquery + NOT EXISTS anti join, Q22 "
    "shape; `bal > avg(bal)` rewritten `bal*cnt > sum` for exact "
    "DECIMAL comparison)",
    tags=("sql", "subquery", "anti", "agg"),
)
def tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    pos = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("c_acctbal").cast(DEC)).alias("sum_bal"),
    )
    cand = (
        c.join(F.broadcast(pos))
        .filter(F.col("c_acctbal").cast(DEC) * F.col("cnt") > F.col("sum_bal"))
        .join(
            o.filter(F.col("o_orderpriority") == "1-URGENT"),
            c["c_custkey"] == o["o_custkey"],
            "left_anti",
        )
    )
    return (
        cand.join(F.broadcast(n), F.col("c_nationkey") == n["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(F.col("c_acctbal").cast(DEC)).cast("double").alias("totacctbal"),
        )
    )

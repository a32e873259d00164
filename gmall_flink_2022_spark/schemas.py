"""Schema constants — every envelope/bean of the reference as StructType.

The reference is schema-on-read (fastjson JSONObject per row, e.g.
gmall-realtime/.../dwd/BaseLogApp.java:33-44); we declare schemas once and let
``from_json`` + a corrupt-record column do the dirty-split. Money columns are
DECIMAL(16,2) matching the reference beans (bean/OrderInfo.java:13-17).
"""

from __future__ import annotations

from pyspark.sql import types as T

DEC = T.DecimalType(16, 2)

# ---------------------------------------------------------------- behavior log
# Field surface per reference accesses: common.* (dwd/BaseLogApp.java:47,59;
# dws/VisitorStatsApp.java:45-54), page.* (dws/ProductStatsApp.java:74-78),
# displays[] (dwd/BaseLogApp.java:88-96), start (dwd/BaseLogApp.java:81).
LOG_COMMON = T.StructType(
    [
        T.StructField("mid", T.StringType()),
        T.StructField("uid", T.StringType()),
        T.StructField("vc", T.StringType()),
        T.StructField("ch", T.StringType()),
        T.StructField("ar", T.StringType()),
        T.StructField("ba", T.StringType()),
        T.StructField("md", T.StringType()),
        T.StructField("os", T.StringType()),
        T.StructField("is_new", T.StringType()),
    ]
)

LOG_PAGE = T.StructType(
    [
        T.StructField("page_id", T.StringType()),
        T.StructField("last_page_id", T.StringType()),
        T.StructField("item", T.StringType()),
        T.StructField("item_type", T.StringType()),
        T.StructField("during_time", T.LongType()),
    ]
)

LOG_DISPLAY = T.StructType(
    [
        T.StructField("display_type", T.StringType()),
        T.StructField("item", T.StringType()),
        T.StructField("item_type", T.StringType()),
        T.StructField("order", T.LongType()),
        T.StructField("pos_id", T.LongType()),
    ]
)

LOG_START = T.StructType(
    [
        T.StructField("entry", T.StringType()),
        T.StructField("open_ad_id", T.LongType()),
        T.StructField("loading_time", T.LongType()),
        T.StructField("open_ad_ms", T.LongType()),
        T.StructField("open_ad_skip_ms", T.LongType()),
    ]
)

LOG_EVENT = T.StructType(
    [
        T.StructField("common", LOG_COMMON),
        T.StructField("page", LOG_PAGE),
        T.StructField("displays", T.ArrayType(LOG_DISPLAY)),
        T.StructField("start", LOG_START),
        T.StructField("ts", T.LongType()),  # epoch millis
        T.StructField("_corrupt", T.StringType()),  # dirty-split channel
    ]
)

# ------------------------------------------------------------------------ CDC
# Envelope shape per function/CustomerDeserialization.java:60-67 —
# {database, tableName, before, after, type}; `after` kept as a raw JSON
# string here because the payload schema is table-dependent (resolved by the
# routing layer against per-table schemas below).
CDC_ENVELOPE = T.StructType(
    [
        T.StructField("database", T.StringType()),
        T.StructField("tableName", T.StringType()),
        T.StructField("before", T.StringType()),
        T.StructField("after", T.StringType()),
        T.StructField("type", T.StringType()),
        T.StructField("_corrupt", T.StringType()),
    ]
)

# Routing config row — bean/TableProcess.java:12-24.
TABLE_PROCESS = T.StructType(
    [
        T.StructField("source_table", T.StringType()),
        T.StructField("operate_type", T.StringType()),
        T.StructField("sink_type", T.StringType()),
        T.StructField("sink_table", T.StringType()),
        T.StructField("sink_columns", T.StringType()),
        T.StructField("sink_pk", T.StringType()),
        T.StructField("sink_extend", T.StringType()),
    ]
)

# ------------------------------------------------------------ business tables
# bean/OrderInfo.java:9-23
ORDER_INFO = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("province_id", T.LongType()),
        T.StructField("order_status", T.StringType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("total_amount", DEC),
        T.StructField("activity_reduce_amount", DEC),
        T.StructField("coupon_reduce_amount", DEC),
        T.StructField("original_total_amount", DEC),
        T.StructField("feight_fee", DEC),
        T.StructField("expire_time", T.StringType()),
        T.StructField("create_time", T.StringType()),
        T.StructField("operate_time", T.StringType()),
    ]
)

# bean/OrderDetail.java:9-18
ORDER_DETAIL = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("order_id", T.LongType()),
        T.StructField("sku_id", T.LongType()),
        T.StructField("order_price", DEC),
        T.StructField("sku_num", T.LongType()),
        T.StructField("sku_name", T.StringType()),
        T.StructField("create_time", T.StringType()),
        T.StructField("split_total_amount", DEC),
        T.StructField("split_activity_amount", DEC),
        T.StructField("split_coupon_amount", DEC),
    ]
)

# bean/PaymentInfo.java:9-16
PAYMENT_INFO = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("order_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("total_amount", DEC),
        T.StructField("subject", T.StringType()),
        T.StructField("payment_type", T.StringType()),
        T.StructField("create_time", T.StringType()),
        T.StructField("callback_time", T.StringType()),
    ]
)

# --------------------------------------------------------------- DWS outputs
# bean/VisitorStats.java:10-32 (stt/edt strings, 4 dims, 5 measures, ts)
VISITOR_STATS = T.StructType(
    [
        T.StructField("stt", T.StringType()),
        T.StructField("edt", T.StringType()),
        T.StructField("vc", T.StringType()),
        T.StructField("ch", T.StringType()),
        T.StructField("ar", T.StringType()),
        T.StructField("is_new", T.StringType()),
        T.StructField("uv_ct", T.LongType()),
        T.StructField("pv_ct", T.LongType()),
        T.StructField("sv_ct", T.LongType()),
        T.StructField("uj_ct", T.LongType()),
        T.StructField("dur_sum", T.LongType()),
        T.StructField("ts", T.LongType()),
    ]
)

# ------------------------------------------------------------ table catalog
# The declared schema of every driver-testdata table (<sf_dir>/<name>.parquet).
# ``sources/io.py`` reads with these, so a scan plans without a schema-
# inference job; tests/test_table_catalog.py pins them to the files. The
# timestamp columns are INT64 TIMESTAMP(MICROS, isAdjustedToUTC=false) in
# every file and load as session-tz TIMESTAMP (UTC-pinned, see session.py).
def _table(*cols: tuple[str, T.DataType]) -> T.StructType:
    return T.StructType([T.StructField(n, t) for n, t in cols])


_INT, _LONG, _DBL, _STR, _TS = (
    T.IntegerType(), T.LongType(), T.DoubleType(), T.StringType(), T.TimestampType()
)

TABLE_SCHEMAS: dict[str, T.StructType] = {
    "region": _table(("r_regionkey", _INT), ("r_name", _STR)),
    "nation": _table(("n_nationkey", _INT), ("n_name", _STR), ("n_regionkey", _INT)),
    "customer": _table(
        ("c_custkey", _LONG), ("c_name", _STR), ("c_nationkey", _INT),
        ("c_acctbal", _DBL), ("c_mktsegment", _STR),
    ),
    "supplier": _table(
        ("s_suppkey", _LONG), ("s_name", _STR), ("s_nationkey", _INT), ("s_acctbal", _DBL)
    ),
    "part": _table(
        ("p_partkey", _LONG), ("p_name", _STR), ("p_brand", _STR), ("p_type", _STR),
        ("p_size", _INT), ("p_retailprice", _DBL),
    ),
    "orders": _table(
        ("o_orderkey", _LONG), ("o_custkey", _LONG), ("o_orderstatus", _STR),
        ("o_totalprice", _DBL), ("o_orderdate", _TS), ("o_orderpriority", _STR),
    ),
    "lineitem": _table(
        ("l_orderkey", _LONG), ("l_partkey", _LONG), ("l_suppkey", _LONG),
        ("l_linenumber", _INT), ("l_quantity", _DBL), ("l_extendedprice", _DBL),
        ("l_discount", _DBL), ("l_tax", _DBL), ("l_returnflag", _STR),
        ("l_linestatus", _STR), ("l_shipdate", _TS),
    ),
    "events": _table(
        ("event_id", _LONG), ("ts", _TS), ("user_id", _LONG), ("event_type", _STR),
        ("value", _DBL), ("props", _STR),
    ),
    "documents": _table(
        ("doc_id", _LONG), ("text", _STR), ("lang", _STR), ("source", _STR),
        ("n_chars", _LONG),
    ),
    "embeddings": _table(
        ("vec_id", _LONG), ("embedding", T.ArrayType(T.FloatType())), ("label", _INT)
    ),
}

# status-code constants — common/GmallConstant.java:8-24
ORDER_STATUS_UNPAID = "1001"
ORDER_STATUS_PAID = "1002"
APPRAISE_GOOD = "1201"

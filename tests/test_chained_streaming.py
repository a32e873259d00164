"""Chained stateful streaming (SURVEY §7.3 #4): OrderWide -> PaymentWide as
two streaming jobs with a topic/dir hop between them — exactly the
reference's Kafka-hop topology (dwm_order_wide topic feeding
PaymentWideApp). Stage 1: stream-stream interval join -> parquet sink;
stage 2: streams the hop output, joins the payment stream, lands the wide
rows. Results checked against the one-shot batch composition."""

from __future__ import annotations

from pyspark.sql import functions as F


def _orders(spark):
    rows = [(1, 7, "2024-01-01 10:00:00"), (2, 8, "2024-01-01 10:02:00")]
    return spark.createDataFrame(rows, "order_id long, user_id long, cts string")


def _details(spark):
    rows = [
        (10, 1, "2024-01-01 10:00:02", 50.0),
        (11, 1, "2024-01-01 10:00:04", 30.0),
        (12, 2, "2024-01-01 10:02:03", 20.0),
        (13, 2, "2024-01-01 10:03:00", 99.0),  # +60s: outside ±5s band
    ]
    return spark.createDataFrame(
        rows, "detail_id long, order_id long, cts string, amount double"
    )


def _payments(spark):
    rows = [
        (100, 1, "2024-01-01 10:09:00"),  # +9min after order: inside [0,15m]
        (101, 2, "2024-01-01 10:30:00"),  # +28min: outside
    ]
    return spark.createDataFrame(rows, "pay_id long, order_id long, cts string")


def _ts(df, col="cts"):
    return df.withColumn("ts", F.to_timestamp(col)).drop(col)


def test_two_hop_streaming_pipeline(spark, tmp_path):
    o_dir, d_dir, p_dir = (str(tmp_path / x) for x in ("o", "d", "p"))
    _ts(_orders(spark)).write.parquet(o_dir)
    _ts(_details(spark)).write.parquet(d_dir)
    _ts(_payments(spark)).write.parquet(p_dir)

    # ---- stage 1: orders ⋈ details (±5 s) -> hop dir (the "Kafka topic")
    so = (
        spark.readStream.schema(spark.read.parquet(o_dir).schema)
        .parquet(o_dir)
        .withColumnRenamed("ts", "o_ts")
        .withWatermark("o_ts", "5 seconds")
    )
    sd = (
        spark.readStream.schema(spark.read.parquet(d_dir).schema)
        .parquet(d_dir)
        .withColumnRenamed("ts", "d_ts")
        .withColumnRenamed("order_id", "d_order_id")
        .withWatermark("d_ts", "5 seconds")
    )
    wide = so.join(
        sd,
        (so["order_id"] == sd["d_order_id"])
        & (sd["d_ts"] >= so["o_ts"] - F.expr("INTERVAL 5 SECONDS"))
        & (sd["d_ts"] <= so["o_ts"] + F.expr("INTERVAL 5 SECONDS")),
    ).select("order_id", "user_id", "detail_id", "amount", "o_ts")
    hop = str(tmp_path / "hop_order_wide")
    q1 = (
        wide.writeStream.format("parquet")
        .option("path", hop)
        .option("checkpointLocation", str(tmp_path / "ck1"))
        .trigger(availableNow=True)
        .start()
    )
    q1.awaitTermination()

    # ---- stage 2: payments ⋈ hop output ([-15 min, 0] around payment)
    sw = (
        spark.readStream.schema(spark.read.parquet(hop).schema)
        .parquet(hop)
        .withWatermark("o_ts", "5 seconds")
    )
    sp = (
        spark.readStream.schema(spark.read.parquet(p_dir).schema)
        .parquet(p_dir)
        .withColumnRenamed("ts", "p_ts")
        .withColumnRenamed("order_id", "p_order_id")
        .withWatermark("p_ts", "5 seconds")
    )
    payment_wide = sp.join(
        sw,
        (sp["p_order_id"] == sw["order_id"])
        & (sw["o_ts"] >= sp["p_ts"] - F.expr("INTERVAL 900 SECONDS"))
        & (sw["o_ts"] <= sp["p_ts"]),
    )
    out_dir = str(tmp_path / "payment_wide")
    q2 = (
        payment_wide.select("pay_id", "order_id", "detail_id", "amount")
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()

    got = sorted(
        (r["pay_id"], r["detail_id"]) for r in spark.read.parquet(out_dir).collect()
    )
    # order 1's two in-band details reach payment 100; order 2's only
    # in-band detail (12) is dropped because payment 101 is outside 15 min
    assert got == [(100, 10), (100, 11)]

def test_keyed_topk_state_bounded_and_improving(spark, tmp_path):
    """The streaming top-k's state never exceeds cap pairs per key, and
    a later batch with smaller hashes IMPROVES the ranking (the settled
    (key, rank) upserts converge to the global top-cap)."""
    from gmall_flink_2022_spark.sources.io import file_batches
    from gmall_flink_2022_spark.streaming.topk_state import keyed_topk_stateful
    from gmall_flink_2022_spark.streaming.runner import run_stream_to_table

    # u values chosen so batch 2 undercuts batch 1's ranking
    b1 = spark.createDataFrame(
        [("a", 1, 50), ("a", 2, 60), ("a", 3, 70), ("b", 9, 10)],
        "key string, id long, _u long",
    )
    b2 = spark.createDataFrame(
        [("a", 4, 5), ("a", 5, 55)], "key string, id long, _u long"
    )
    sdf = file_batches([b1, b2], str(tmp_path / "in"))
    out = keyed_topk_stateful(sdf, "key", "id", "_u", cap=3)
    settled = run_stream_to_table(
        out, "topk_t", output_mode="update", checkpoint=str(tmp_path / "c")
    )
    # memory sink in update mode APPENDS re-emissions; last per (key, rk)
    # wins — replicate the keyed-upsert read with a batch window
    import pyspark.sql.functions as F
    from pyspark.sql import Window as W

    last = (
        settled.withColumn("_ord", F.monotonically_increasing_id())
        .withColumn(
            "_rn",
            F.row_number().over(
                W.partitionBy("key", "rk").orderBy(F.desc("_ord"))
            ),
        )
        .filter(F.col("_rn") == 1)
    )
    got = {(r["key"], r["rk"]): r["id"] for r in last.collect()}
    # global top-3 for 'a' by (u, id): (5,4), (50,1), (55,5) — id 2, 3 out
    assert got == {("a", 1): 4, ("a", 2): 1, ("a", 3): 5, ("b", 1): 9}

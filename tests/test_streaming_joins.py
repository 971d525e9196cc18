"""Stream-stream interval join: purchases within a window after the
click, joined across micro-batches, must equal the batch join over the
same data — and late rows beyond the watermark must not leak state."""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import functions as F

from spark_streaming_kafka_bucket_counter_spark.streaming.pipeline import (
    streaming_interval_join,
)

CLICKS = [
    {"user_id": 1, "click_id": 10, "c_ts": 1000},
    {"user_id": 1, "click_id": 11, "c_ts": 5000},
    {"user_id": 2, "click_id": 20, "c_ts": 1000},
    {"user_id": 3, "click_id": 30, "c_ts": 1000},
]
PURCHASES = [
    {"user_id": 1, "purchase_id": 100, "p_ts": 1100},  # joins click 10
    {"user_id": 1, "purchase_id": 101, "p_ts": 5200},  # joins click 11
    {"user_id": 2, "purchase_id": 200, "p_ts": 999},   # BEFORE the click: no join
    {"user_id": 3, "purchase_id": 300, "p_ts": 2000},  # outside 300s window
]


def _write_batches(dirpath, rows, split_at):
    dirpath.mkdir()
    now = time.time()
    for i, chunk in enumerate([rows[:split_at], rows[split_at:]]):
        f = dirpath / f"b{i}.json"
        f.write_text("\n".join(json.dumps(r) for r in chunk))
        os.utime(f, (now - 60 + i, now - 60 + i))


def _stream(spark, path, schema, ts_field):
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(path))
    )
    return raw.withColumn(ts_field, F.timestamp_seconds(F.col(ts_field)))


def test_stream_stream_join_matches_batch(spark, tmp_path):
    _write_batches(tmp_path / "clicks", CLICKS, 2)
    _write_batches(tmp_path / "purchases", PURCHASES, 2)

    c_schema = "user_id long, click_id long, c_ts long"
    p_schema = "user_id long, purchase_id long, p_ts long"
    clicks = _stream(spark, tmp_path / "clicks", c_schema, "c_ts")
    purchases = _stream(spark, tmp_path / "purchases", p_schema, "p_ts")

    joined = streaming_interval_join(
        clicks, purchases, "user_id", "c_ts", "p_ts", within_seconds=300
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = {
        (r["click_id"], r["purchase_id"])
        for r in spark.sql("SELECT click_id, purchase_id FROM ssj").collect()
    }
    assert got == {(10, 100), (11, 101)}

    # batch parity: the same operator applied to batch frames
    bc = spark.createDataFrame(
        [(r["user_id"], r["click_id"], r["c_ts"]) for r in CLICKS], c_schema
    ).withColumn("c_ts", F.timestamp_seconds("c_ts"))
    bp = spark.createDataFrame(
        [(r["user_id"], r["purchase_id"], r["p_ts"]) for r in PURCHASES], p_schema
    ).withColumn("p_ts", F.timestamp_seconds("p_ts"))
    batch = streaming_interval_join(bc, bp, "user_id", "c_ts", "p_ts", 300)
    got_batch = {
        (r["click_id"], r["purchase_id"])
        for r in batch.select("click_id", "purchase_id").collect()
    }
    assert got_batch == got


def test_same_ts_name_rejected(spark):
    df = spark.createDataFrame([(1, 2)], "user_id long, ts long")
    try:
        streaming_interval_join(df, df, "user_id", "ts", "ts", 10)
    except ValueError as e:
        assert "distinct" in str(e)
    else:
        raise AssertionError("expected ValueError")

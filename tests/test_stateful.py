"""Custom stateful operator (applyInPandasWithState running bucket-count):
cross-batch accumulation parity with the batch groupBy."""

from __future__ import annotations

from pyspark.sql import functions as F

from spark_streaming_kafka_bucket_counter_spark.functions.buckets import with_bucket
from spark_streaming_kafka_bucket_counter_spark.functions.buckets import ts_epoch_seconds
from spark_streaming_kafka_bucket_counter_spark.sources.files import load_table
from spark_streaming_kafka_bucket_counter_spark.streaming.pipeline import start_writer
from spark_streaming_kafka_bucket_counter_spark.streaming.stateful import (
    running_bucket_count,
)
from tests.conftest import SF_DIR


def _bucketed(spark, n):
    events = load_table(spark, SF_DIR, "events").limit(n)
    return with_bucket(
        events.select("event_type", ts_epoch_seconds(F.col("ts")).cast("double").alias("epoch_ts")),
        "epoch_ts",
        3600,
        "epoch",
    ).select("event_type", "bucket_start", "bucket_end")


def test_stateful_running_count_merges_batches(spark, tmp_path):
    """Two parquet files fed one-per-trigger: group state must carry the
    count across micro-batches so the final emitted total per key equals
    the batch groupBy count (reference MySQL-upsert semantics, A5)."""
    src = tmp_path / "src"
    _bucketed(spark, 300).coalesce(1).write.mode("append").parquet(str(src))
    _bucketed(spark, 600).coalesce(1).write.mode("append").parquet(str(src))

    stream = (
        spark.readStream.schema("event_type string, bucket_start long, bucket_end long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    writer = (
        running_bucket_count(stream, ["event_type"])
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("stateful_test")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
    )
    q = start_writer(writer)
    assert q.awaitTermination(120)

    # update-mode memory sink: the max per key is the last (= merged) total
    got = spark.sql(
        """
        SELECT event_type, bucket_start, bucket_end, max(count) AS count
        FROM stateful_test GROUP BY 1, 2, 3
        """
    )
    expected = (
        _bucketed(spark, 300)
        .unionAll(_bucketed(spark, 600))
        .groupBy("event_type", "bucket_start", "bucket_end")
        .count()
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, expected.collect()))

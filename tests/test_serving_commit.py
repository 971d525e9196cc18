"""The serving store's driver-side commit: ``ServingStore.append``
collects each batch with one Arrow collect and writes its parquet files
with pyarrow. These tests pin that the files are indistinguishable from
Spark-written ones to every reader (schema, zone maps, mixed stores),
that the layout and replay contract are those of a partitioned Spark
write, and that staging debris is swept by GC."""

from __future__ import annotations

import datetime
import decimal
import logging
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DateType,
    DecimalType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from spark_streaming_kafka_bucket_counter_spark.sources.files import footer_schema
from spark_streaming_kafka_bucket_counter_spark.sources.manifest import (
    COMMIT_STAGE_PREFIX,
    files_matching,
    gc_index_tree,
    latest_manifest,
    manifest_txn,
)
from spark_streaming_kafka_bucket_counter_spark.streaming.serving import (
    RST_COL,
    ServingStore,
)

_ALL_TYPES = StructType([
    StructField("s", StringType()),
    StructField("l", LongType(), False),
    StructField("i", IntegerType()),
    StructField("d", DoubleType()),
    StructField("b", BooleanType()),
    StructField("dt", DateType()),
    StructField("ts", TimestampType()),
    StructField("dec", DecimalType(12, 3)),
    StructField("arr", ArrayType(LongType())),
    StructField("st", StructType([
        StructField("x", IntegerType()), StructField("y", StringType()),
    ])),
])
_ALL_ROWS = [
    ("a", 1, 2, 1.5, True, datetime.date(2020, 1, 2),
     datetime.datetime(2020, 1, 2, 3, 4, 5, 678), decimal.Decimal("1.250"),
     [1, 2], (7, "q")),
    (None, 2, None, None, None, None, None, None, None, None),
    ("c", 3, -4, -0.25, False, datetime.date(1969, 12, 31),
     datetime.datetime(1999, 12, 31, 23, 59, 59), decimal.Decimal("-99.001"),
     [], (None, None)),
]


def _leaf_files(store: ServingStore, b: int) -> list[str]:
    leaf = store.path / f"{RST_COL}={b}"
    return sorted(os.listdir(leaf)) if leaf.is_dir() else []


def _counts(spark, n: int, lo: int = 0):
    return spark.range(n).select(
        (F.col("id") + lo).alias("bucket_start"), F.lit(1).cast("long").alias("count")
    )


def test_schema_and_rows_match_a_spark_write(spark, tmp_path):
    df = spark.createDataFrame(_ALL_ROWS, _ALL_TYPES).repartition(2)
    ref = str(tmp_path / "spark_written")
    (
        df.withColumn(RST_COL, F.lit(0).cast("long"))
        .write.partitionBy(RST_COL).parquet(ref)
    )
    want = spark.read.option("mergeSchema", "true").parquet(ref)

    store = ServingStore(spark, str(tmp_path / "store"), clean_freq=0)
    store.append(df, 0)
    got = store.view()
    assert got.schema == want.schema
    assert sorted(map(str, got.collect())) == sorted(map(str, want.collect()))

    ours = sorted(str(store.path / f) for f in latest_manifest(store.path)["files"])
    theirs = sorted(
        os.path.join(ref, f"{RST_COL}=0", n)
        for n in os.listdir(os.path.join(ref, f"{RST_COL}=0"))
        if n.endswith(".parquet")
    )
    assert footer_schema(spark, ours) == footer_schema(spark, theirs)


def test_driver_and_spark_written_partitions_read_together(spark, tmp_path):
    store = ServingStore(spark, str(tmp_path / "store"), clean_freq=0)
    # batch 5: a raw single-file Spark partitioned write, adopted through
    # manifest_txn (compaction leaves it alone)
    with manifest_txn(store.path, replace_prefixes=[f"{RST_COL}=5"]):
        (
            _counts(spark, 40).coalesce(1).withColumn(RST_COL, F.lit(5).cast("long"))
            .write.mode("append").partitionBy(RST_COL).parquet(str(store.path))
        )
    for b in range(6, 9):
        store.append(_counts(spark, 40, lo=100 * b).repartition(3), b)
    # batches 6 and 7 become Spark-written compaction output
    assert store.compact(keep_recent=1) == 2
    per_batch = {
        r[0]: (r[1], r[2])
        for r in store.view().groupBy(RST_COL)
        .agg(F.sum("bucket_start"), F.sum("count")).collect()
    }
    want = {
        b: (sum(range(lo, lo + 40)), 40)
        for b, lo in ((5, 0), (6, 600), (7, 700), (8, 800))
    }
    assert per_batch == want


def test_one_file_per_non_empty_partition_and_no_debris(spark, tmp_path):
    store = ServingStore(spark, str(tmp_path / "store"), clean_freq=0)
    store.append(_counts(spark, 100).repartition(4), 0)
    store.append(_counts(spark, 100).repartition(4).coalesce(1), 1)
    store.append(spark.range(0, 3, 1, numPartitions=8).select(
        F.col("id").alias("bucket_start")), 2)
    assert [len(_leaf_files(store, b)) for b in range(3)] == [4, 1, 3]
    # no _SUCCESS, _temporary, .crc or staging directory anywhere
    for b in range(3):
        for name in _leaf_files(store, b):
            assert name.startswith("part-") and name.endswith(".snappy.parquet")
    assert sorted(n for n in os.listdir(store.path) if n != "_manifest") == [
        f"{RST_COL}={b}" for b in range(3)
    ]


def test_zone_maps_recorded_and_prune(spark, tmp_path):
    store = ServingStore(spark, str(tmp_path / "store"), clean_freq=0)
    store.append(_counts(spark, 10, lo=0).coalesce(1), 0)
    store.append(_counts(spark, 10, lo=100).coalesce(1), 1)
    m = latest_manifest(store.path)
    assert set(m["stats"]) == set(m["files"])
    lo_stats = [m["stats"][f]["cols"]["bucket_start"] for f in m["files"]]
    assert sorted((s["mn"], s["mx"]) for s in lo_stats) == [(0, 9), (100, 109)]
    kept = files_matching(m, "", [("bucket_start", ">=", 100)])
    assert kept and all(f.startswith(f"{RST_COL}=1/") for f in kept)


def test_empty_batch_writes_no_leaf_and_publishes(spark, tmp_path):
    store = ServingStore(spark, str(tmp_path / "store"), clean_freq=0)
    store.append(_counts(spark, 5), 0)
    before = latest_manifest(store.path)
    store.append(_counts(spark, 5).filter(F.lit(False)), 1)
    after = latest_manifest(store.path)
    assert not (store.path / f"{RST_COL}=1").exists()
    assert store.rst() == 0
    assert after["generation"] == before["generation"] + 1
    assert after["files"] == before["files"]


def test_replay_retires_the_first_attempt(spark, tmp_path):
    store = ServingStore(spark, str(tmp_path / "store"), clean_freq=0)
    store.append(_counts(spark, 8).repartition(2), 0)
    first = latest_manifest(store.path)["files"]
    store.append(_counts(spark, 3, lo=50), 0)
    m = latest_manifest(store.path)
    assert set(first) <= set(m["retired"]) and not set(first) & set(m["files"])
    assert sorted(r[0] for r in store.view().select("bucket_start").collect()) == [
        50, 51, 52
    ]


def test_unconvertible_type_raises_and_commits_nothing(spark, tmp_path):
    store = ServingStore(spark, str(tmp_path / "store"), clean_freq=0)
    df = spark.range(2).select(F.make_interval(F.lit(1)).alias("iv"))
    with pytest.raises(TypeError, match="UNSUPPORTED_DATA_TYPE_FOR_ARROW"):
        store.append(df, 0)
    assert latest_manifest(store.path) is None
    assert not (store.path / f"{RST_COL}=0").exists()


def test_one_structured_log_record_per_commit(spark, tmp_path, caplog):
    store = ServingStore(spark, str(tmp_path / "store"), clean_freq=0)
    caplog.set_level(logging.INFO, logger=ServingStore.__module__)
    store.append(_counts(spark, 30).repartition(2), 4)
    recs = [r for r in caplog.records if r.name == ServingStore.__module__]
    assert len(recs) == 1
    r = recs[0]
    assert r.levelno == logging.INFO
    assert (r.batch_id, r.rows, r.files) == (4, 30, 2)
    for k in ("collect_ms", "write_ms", "publish_ms"):
        assert isinstance(getattr(r, k), float) and getattr(r, k) >= 0


def test_gc_sweeps_aged_commit_staging(spark, tmp_path):
    store = ServingStore(spark, str(tmp_path / "store"), clean_freq=0)
    store.append(_counts(spark, 5), 0)
    stage = store.path / f"{COMMIT_STAGE_PREFIX}dead"
    stage.mkdir()
    (stage / "part-00000-dead.c000.snappy.parquet").write_bytes(b"partial")
    assert latest_manifest(store.path)["files"] == [
        f"{RST_COL}=0/{n}" for n in _leaf_files(store, 0)
    ]
    gc_index_tree(store.path, grace_sec=300)
    assert stage.is_dir()
    gc_index_tree(store.path, grace_sec=0)
    assert not stage.exists()
    assert store.view().count() == 5

"""The serving store's driver-side commit: ``ServingStore.append``
collects each batch with one Arrow collect and writes it as one parquet
file with pyarrow. These tests pin that the files are indistinguishable
from Spark-written ones to every reader (schema, including the types
Arrow has no name for, zone maps, mixed stores), that each batch is one
file and replays like a partitioned Spark write, and that staging
debris is swept by GC. The pipeline's
driver-side count (``pipeline.count_batch``) must commit exactly what
``merged_count`` commits, in one Spark job with no shuffle, and must
leave Spark's count in place above its size gate and for float keys."""

from __future__ import annotations

import datetime
import decimal
import logging
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import DataFrame
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

from spark_streaming_kafka_bucket_counter_spark.operators.count import merged_count
from spark_streaming_kafka_bucket_counter_spark.sources.files import footer_schema
from spark_streaming_kafka_bucket_counter_spark.sources.manifest import (
    COMMIT_STAGE_PREFIX,
    files_matching,
    gc_index_tree,
    latest_manifest,
    manifest_txn,
)
from spark_streaming_kafka_bucket_counter_spark.streaming import pipeline
from spark_streaming_kafka_bucket_counter_spark.streaming.pipeline import (
    count_batch,
    parse_and_bucket,
    start_bucket_counter,
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
    # a schema derived from the collect's Arrow schema would read the
    # last two columns as TimestampType and StringType()
    df = spark.createDataFrame(_ALL_ROWS, _ALL_TYPES).repartition(2).select(
        "*",
        F.col("ts").cast("timestamp_ntz").alias("ntz"),
        F.collate("s", "UTF8_LCASE").alias("lcase"),
    )
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
    # manifest_txn
    with manifest_txn(store.path, replace_prefixes=[f"{RST_COL}=5"]):
        (
            _counts(spark, 40).coalesce(1).withColumn(RST_COL, F.lit(5).cast("long"))
            .write.mode("append").partitionBy(RST_COL).parquet(str(store.path))
        )
    for b in range(6, 9):
        store.append(_counts(spark, 40, lo=100 * b).repartition(3), b)
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
    assert [len(_leaf_files(store, b)) for b in range(3)] == [1, 1, 1]
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
    assert (r.batch_id, r.rows, r.files) == (4, 30, 1)
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


# -- the pipeline's driver-side count -----------------------------------
_KEYS = ["etype", "uid", "flag", "bucket_start", "bucket_end"]


def _batch(spark, tmp_path, name: str, rows: list[tuple]):
    """A parquet-backed batch (the shape a file source hands
    ``foreachBatch``) with nullable string, int, boolean and bigint
    keys."""
    path = tmp_path / f"{name}.parquet"
    cols = list(zip(*rows)) if rows else [[]] * 5
    pq.write_table(pa.table({
        "etype": pa.array(cols[0], pa.string()),
        "uid": pa.array(cols[1], pa.int32()),
        "flag": pa.array(cols[2], pa.bool_()),
        "bucket_start": pa.array(cols[3], pa.int64()),
        "bucket_end": pa.array(cols[4], pa.int64()),
    }), path)
    return spark.read.parquet(str(path))


def _events(n: int, lo: int = 0) -> list[tuple]:
    return [
        (
            (None, "click", "view")[i % 3],
            None if i % 5 == 0 else i % 4,
            None if i % 7 == 0 else i % 2 == 0,
            lo + 20 * (i % 3) if i % 11 else None,
            lo + 20 * (i % 3) + 20,
        )
        for i in range(n)
    ]


def _row_metadata(store: ServingStore) -> set[bytes]:
    return {
        pq.read_metadata(store.path / f).metadata[
            b"org.apache.spark.sql.parquet.row.metadata"
        ]
        for f in latest_manifest(store.path)["files"]
    }


@pytest.mark.parametrize("case", ["null_keys", "empty_batch", "replay"])
def test_driver_count_commits_what_merged_count_commits(spark, tmp_path, case):
    batches = {
        "null_keys": [(_events(300), 0)],
        "empty_batch": [(_events(40), 0), ([], 1)],
        "replay": [(_events(60), 0), (_events(90, lo=1000), 0)],
    }[case]
    driver = ServingStore(spark, str(tmp_path / "driver"), clean_freq=0)
    spark_count = ServingStore(spark, str(tmp_path / "spark"), clean_freq=0)
    for i, (rows, b) in enumerate(batches):
        df = _batch(spark, tmp_path, f"b{i}", rows)
        counts = count_batch(df, _KEYS)
        assert isinstance(counts, pa.Table)
        driver.append(counts, b)
        spark_count.append(merged_count(df, _KEYS), b)
    want, got = spark_count.view(), driver.view()
    assert got.schema == want.schema
    assert sorted(map(str, got.collect())) == sorted(map(str, want.collect()))
    footers = _row_metadata(driver)
    assert footers == _row_metadata(spark_count)
    assert footers == {merged_count(df, _KEYS).schema.json().encode()}
    for store in (driver, spark_count):
        m = latest_manifest(store.path)
        assert store._ids_of(m) == [0]
        assert m["generation"] == len(batches)
        assert not (store.path / f"{RST_COL}=1").exists()
    if case == "replay":
        assert sum(r["count"] for r in got.collect()) == 90


def test_small_batch_commit_runs_one_job_and_no_shuffle(spark, tmp_path):
    df = _batch(spark, tmp_path, "b", _events(500))
    store = ServingStore(spark, str(tmp_path / "store"), clean_freq=0)
    sc = spark.sparkContext
    group = "driver-count-probe"
    sc.setJobGroup(group, group)
    try:
        store.append(count_batch(df, _KEYS), 0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) == 1
    assert len(sc.statusTracker().getJobInfo(jobs[0]).stageIds) == 1
    assert _leaf_files(store, 0) and len(_leaf_files(store, 0)) == 1


def test_spark_counts_above_the_size_gate_and_for_float_keys(
    spark, tmp_path, monkeypatch
):
    df = _batch(spark, tmp_path, "b", _events(50))
    monkeypatch.setattr(pipeline, "DRIVER_COUNT_MAX_BYTES", 1)
    big = count_batch(df, _KEYS)
    monkeypatch.undo()
    assert not isinstance(big, pa.Table)
    floats = df.withColumn("uid", F.col("uid").cast("double"))
    assert not isinstance(count_batch(floats, _KEYS), pa.Table)
    assert sorted(map(str, big.collect())) == sorted(
        map(str, merged_count(df, _KEYS).collect())
    )


def test_source_without_statistics_keeps_the_spark_count(spark, tmp_path):
    """Kafka reports no size for a micro-batch; neither does the
    ``rate-micro-batch`` source, so Spark's default estimate sends
    every batch the pipeline commits to ``merged_count``."""
    rate = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 200).load()
    )
    events = rate.select(F.to_json(F.struct(
        F.when(F.col("value") % 2 == 0, "click").otherwise("view")
        .alias("event_type"),
        (F.col("value") % 7).alias("user_id"),
        (F.col("value") % 60 + 1_700_000_000).alias("epoch_ts"),
    )).alias("value"))
    records = parse_and_bucket(
        events, {"etype": "event_type", "uid": "user_id"}, "epoch_ts", 20
    )
    store = ServingStore(spark, str(tmp_path / "store"), clean_freq=0)
    seen = []
    append = store.append

    def traced(counts, batch_id):
        seen.append(isinstance(counts, DataFrame))
        return append(counts, batch_id)

    store.append = traced
    q = start_bucket_counter(
        records, store, ["etype", "uid"], str(tmp_path / "ckpt")
    )
    assert q.awaitTermination(120)
    assert seen and all(seen)
    assert sum(r["count"] for r in store.view().collect()) == 200

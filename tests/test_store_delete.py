"""ServingStore.delete finds the batches to rewrite with one aggregate
over one snapshot, and rewrites only those batches."""

from __future__ import annotations

import uuid

from pyspark.sql import functions as F

from spark_streaming_kafka_bucket_counter_spark.sources.manifest import manifest_txn
from spark_streaming_kafka_bucket_counter_spark.streaming.serving import (
    RST_COL,
    ServingStore,
)


def _store(spark, root, n_batches):
    store = ServingStore(spark, str(root), clean_freq=0)
    for b in range(n_batches):
        store.append(
            spark.createDataFrame(
                [("click", b), ("view", b), (None, b)], "etype string, count long"
            ),
            b,
        )
    return store


def _jobs_run_by(spark, build) -> int:
    sc = spark.sparkContext
    group = f"delete-probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_delete_discovery_jobs_do_not_grow_with_batches(spark, tmp_path):
    small = _store(spark, tmp_path / "two", 2)
    large = _store(spark, tmp_path / "six", 6)
    n_small = _jobs_run_by(spark, lambda: small.delete({"etype": "nomatch"}))
    n_large = _jobs_run_by(spark, lambda: large.delete({"etype": "nomatch"}))
    assert n_small == n_large


def test_delete_rewrites_only_matching_batches(spark, tmp_path):
    store = _store(spark, tmp_path / "s", 4)
    # batch 2 as a Spark write leaves it: one file per Spark partition,
    # so the rewrite reads it in several tasks
    with manifest_txn(store.path, replace_prefixes=[f"{RST_COL}=2"]):
        (
            spark.createDataFrame(
                [("click", 2), ("view", 2), (None, 2)], "etype string, count long"
            )
            .repartition(3).withColumn(RST_COL, F.lit(2).cast("long"))
            .write.mode("append").partitionBy(RST_COL).parquet(str(store.path))
        )
    before = store.snapshot()["files"]
    assert sum(f.startswith(f"{RST_COL}=2/") for f in before) > 1
    assert store.delete({"etype": "view", "count": 2}) == 1
    after = store.snapshot()["files"]
    assert sum(f.startswith(f"{RST_COL}=2/") for f in after) == 1
    untouched = [f for f in before if not f.startswith(f"{RST_COL}=2/")]
    assert set(untouched) <= set(after)
    assert not any(f in after for f in before if f.startswith(f"{RST_COL}=2/"))
    left = [r["etype"] for r in store.view().collect() if r[RST_COL] == 2]
    assert sorted(left, key=str) == [None, "click"]  # NULL-condition rows are kept
    assert store.view().count() == 11

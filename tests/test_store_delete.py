"""ServingStore.delete finds the batches to rewrite with one aggregate
over one snapshot, and rewrites only those batches."""

from __future__ import annotations

import uuid

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
    before = store.snapshot()["files"]
    assert store.delete({"etype": "view", "count": 2}) == 1
    after = store.snapshot()["files"]
    untouched = [f for f in before if not f.startswith(f"{RST_COL}=2/")]
    assert set(untouched) <= set(after)
    assert not any(f in after for f in before if f.startswith(f"{RST_COL}=2/"))
    left = [r["etype"] for r in store.view().collect() if r[RST_COL] == 2]
    assert sorted(left, key=str) == [None, "click"]  # NULL-condition rows are kept
    assert store.view().count() == 11

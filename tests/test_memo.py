"""Lifecycle pins for the per-dataset artifact memo (plans/_memo.py):
LRU(2) generations, deterministic block release on eviction, and the
source fingerprint that makes regenerated data miss instead of serving
stale frames (round-5 VERDICT ask #7 + both ADVICE memo items)."""

from __future__ import annotations

import os
import time

import pytest

from spark_streaming_kafka_bucket_counter_spark.plans import _memo


def _persistent_ids(spark) -> set[int]:
    return {int(i) for i in spark._jsc.getPersistentRDDs()}


def _rdd_id(df) -> int:
    """The checkpointed RDD a memo frame plans over (what
    ``_memo._release`` unpersists)."""
    return df._jdf.queryExecution().analyzed().rdd().id()


@pytest.fixture()
def clean_memo():
    saved = dict(_memo._MEMO)
    saved_tomb = list(_memo._TOMBSTONE)
    _memo._MEMO.clear()
    _memo._TOMBSTONE.clear()
    yield
    _memo._MEMO.clear()
    _memo._MEMO.update(saved)
    _memo._TOMBSTONE[:] = saved_tomb


def _dataset(tmp_path, name: str) -> str:
    d = tmp_path / name
    d.mkdir()
    (d / "documents.parquet").write_bytes(b"x" * (len(name) + 1))
    return str(d)


def test_aba_alternation_rebuilds_at_most_once(spark, tmp_path, clean_memo):
    """With LRU(2), a server alternating two datasets keeps both warm:
    A, B, A, B builds exactly twice."""
    a, b = _dataset(tmp_path, "a"), _dataset(tmp_path, "b")
    builds = []

    def builder(tag):
        def _build():
            builds.append(tag)
            return spark.range(5).selectExpr("id", f"'{tag}' as src")
        return _build

    for sf in (a, b, a, b, a):
        _memo.dataset_memo(spark, sf, "pairs", builder(sf))
    assert builds == [a, b]
    # a third dataset evicts the least-recently-used generation (b)
    c = _dataset(tmp_path, "c")
    _memo.dataset_memo(spark, c, "pairs", builder(c))
    _memo.dataset_memo(spark, a, "pairs", builder(a))  # still memoized
    assert builds == [a, b, c]
    _memo.dataset_memo(spark, b, "pairs", builder(b))  # evicted -> rebuild
    assert builds == [a, b, c, b]


def test_eviction_defers_release_by_one_cycle(spark, tmp_path, clean_memo):
    """An evicted generation parks in the tombstone slot (its blocks stay
    usable across ONE dataset switch — ADVICE r6: a caller still holding
    the returned frame must not get missing-block errors) and is
    unpersisted deterministically when the NEXT eviction pushes it out,
    not left for GC.

    Checks the memo frames' own RDD ids: a global persistent-RDD count
    can still hold an earlier test's frames, which Spark's
    ContextCleaner unpersists asynchronously. New ids are compared
    against the set present before the test; that set only shrinks."""
    before = _persistent_ids(spark)

    def _new_ids():
        return _persistent_ids(spark) - before

    names = [_dataset(tmp_path, n) for n in ("d1", "d2", "d3", "d4")]
    held = _memo.dataset_memo(spark, names[0], "art", lambda: spark.range(10))
    d2 = _memo.dataset_memo(spark, names[1], "art", lambda: spark.range(10))
    d1_id, d2_id = _rdd_id(held), _rdd_id(d2)
    assert _new_ids() == {d1_id, d2_id}
    # third generation evicts d1 -> parked, still materialized AND usable
    d3 = _memo.dataset_memo(spark, names[2], "art", lambda: spark.range(10))
    assert len(_memo._MEMO) == 2
    assert _new_ids() == {d1_id, d2_id, _rdd_id(d3)}  # d1 parked, not freed
    assert held.count() == 10  # in-flight handle survives the switch
    # fourth generation evicts d2 and finally frees d1's blocks
    d4 = _memo.dataset_memo(spark, names[3], "art", lambda: spark.range(10))
    assert _new_ids() == {d2_id, _rdd_id(d3), _rdd_id(d4)}  # d2 parked, d1 freed
    assert len(_memo._TOMBSTONE) == 1


def test_regenerated_source_misses_the_memo(spark, tmp_path, clean_memo):
    """Same path, new file content/mtime -> new dataset identity: the
    memo rebuilds instead of serving a frame of the old data (ADVICE:
    fold the cached_index_dir source fingerprint into the key)."""
    sf = _dataset(tmp_path, "regen")
    builds = []

    def _build():
        builds.append(1)
        return spark.range(3)

    _memo.dataset_memo(spark, sf, "art", _build)
    _memo.dataset_memo(spark, sf, "art", _build)
    assert len(builds) == 1
    # regenerate the table file (content and mtime change)
    path = os.path.join(sf, "documents.parquet")
    time.sleep(0.01)  # ensure mtime_ns moves even on coarse clocks
    with open(path, "wb") as fh:
        fh.write(b"regenerated bytes")
    _memo.dataset_memo(spark, sf, "art", _build)
    assert len(builds) == 2

"""Cross-segment BM25 merge with replay provenance (r8 VERDICT Next #2).

The one unbounded-growth axis left in the serving layer was BM25's
segment count == micro-batch count (SOAK r8: 1,234 live files at
generation 26 vs LSH's 105, IVF's 5). These tests pin the fix:
`bm25_merge_segments` folds all live segments into the base segment in
ONE snapshot, queries are bit-identical across the merge, folded batch
ids live in the snapshot's `bm25_covered_ranges` provenance (merged
[lo, hi] ranges — O(1) regardless of total batch count) so a
checkpoint-rollback replay of a covered batch is a manifest-level
no-op.
"""

from __future__ import annotations

from spark_streaming_kafka_bucket_counter_spark.operators.search import (
    BM25_MERGED_SEGMENT,
    bm25_merge_segments,
    bm25_query_index,
    bm25_topk,
    bm25_write_segment,
)
from spark_streaming_kafka_bucket_counter_spark.sources.manifest import (
    latest_manifest,
    manifest_read,
    scan_parquet_files,
)

_DOCS = [
    (0, "apple banana apple cherry"),
    (1, "banana cherry date elderberry fig"),
    (2, "apple apple apple grape"),
    (3, "completely unrelated words here only"),
    (4, "grape fig apple date"),
    (5, "cherry cherry banana words"),
]
_TERM_SETS = (["apple"], ["banana", "cherry"], ["grape", "fig"], ["words"])


def _build_segmented(spark, idx: str, n_segments: int = 3):
    corpus = spark.createDataFrame(_DOCS, "doc_id long, text string")
    for b in range(n_segments):
        bdf = corpus.filter(f"doc_id % {n_segments} = {b}")
        bm25_write_segment(bdf, "doc_id", "text", idx, b, buckets=8)
    return corpus


def _rankings(spark, idx: str):
    return {
        tuple(ts): [
            (r["doc_id"], r["score"], r["rank"])
            for r in bm25_query_index(spark, idx, ts, top_k=10, buckets=8).collect()
        ]
        for ts in _TERM_SETS
    }


def test_merge_is_bit_identical_one_snapshot_and_bounded(spark, tmp_path):
    idx = str(tmp_path / "bm")
    corpus = _build_segmented(spark, idx, 3)
    before = _rankings(spark, idx)
    gen_before = latest_manifest(idx)["generation"]

    assert bm25_merge_segments(spark, idx, grace_sec=0) == 3

    # bit-identical scoring, also vs the single-pass batch operator
    after = _rankings(spark, idx)
    assert after == before
    for ts in _TERM_SETS:
        direct = [
            (r["doc_id"], r["score"], r["rank"])
            for r in bm25_topk(corpus, "doc_id", "text", ts, top_k=10).collect()
        ]
        assert after[tuple(ts)] == direct, ts

    m = latest_manifest(idx)
    # ONE merge snapshot (zero-grace GC published one more to clear
    # the retired set; both carry the provenance)
    assert m["meta"]["bm25_covered_ranges"] == [[0, 2]]
    assert m["generation"] <= gen_before + 2
    # only the merged base segment remains on disk
    segs = {
        f.split("/")[1]
        for f in scan_parquet_files(idx)
        if f.startswith("postings/")
    }
    assert segs == {f"batch_id={BM25_MERGED_SEGMENT}"}

    # merge of an already-merged index is a no-op (no generation bump)
    g = latest_manifest(idx)["generation"]
    assert bm25_merge_segments(spark, idx) == 0
    assert latest_manifest(idx)["generation"] == g


def test_replay_of_covered_batch_is_manifest_noop(spark, tmp_path):
    idx = str(tmp_path / "bm")
    corpus = _build_segmented(spark, idx, 3)
    assert bm25_merge_segments(spark, idx, grace_sec=0) == 3
    before = _rankings(spark, idx)
    g = latest_manifest(idx)["generation"]

    # checkpoint rollback replays batch 1: its rows already live in the
    # base segment — re-writing them would double tf/df/N
    replay = corpus.filter("doc_id % 3 = 1")
    bm25_write_segment(replay, "doc_id", "text", idx, 1, buckets=8)

    assert latest_manifest(idx)["generation"] == g  # nothing published
    assert _rankings(spark, idx) == before
    from pyspark.sql import functions as F

    n = manifest_read(spark, idx, "stats").agg(F.sum("_N")).collect()[0][0]
    assert n == len(_DOCS)

    # an UNCOVERED new batch still folds in normally after the merge
    extra = spark.createDataFrame(
        [(100, "apple brand new words")], "doc_id long, text string"
    )
    bm25_write_segment(extra, "doc_id", "text", idx, 7, buckets=8)
    hits = bm25_query_index(spark, idx, ["apple"], top_k=10, buckets=8).collect()
    assert 100 in {r["doc_id"] for r in hits}


def test_covered_ranges_coalesce():
    """Coverage provenance is O(#ranges), not O(#batches): contiguous
    ids coalesce and gaps stay separate."""
    from spark_streaming_kafka_bucket_counter_spark.operators.search import (
        _covered_contains,
        _ranges_add,
    )

    r = _ranges_add([], range(0, 1000))
    assert r == [[0, 999]]
    r = _ranges_add(r, [1000, 1002, 5000])
    assert r == [[0, 1000], [1002, 1002], [5000, 5000]]  # 1001 is a gap
    meta = {"bm25_covered_ranges": r}
    assert _covered_contains(meta, 500) and _covered_contains(meta, 5000)
    assert not _covered_contains(meta, 1001)
    assert not _covered_contains(meta, 1003)

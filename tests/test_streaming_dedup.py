"""Streaming-native exact dedup: replayed records arriving in LATER
micro-batches (within the watermark delay) must be dropped — the
at-least-once ingestion guard."""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import functions as F

from spark_streaming_kafka_bucket_counter_spark.streaming.pipeline import (
    streaming_drop_duplicates,
)


def test_cross_batch_duplicate_records_dropped(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    f1 = src / "a.json"
    f1.write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"event_id": 1, "ts_e": 100, "v": "first"},
                {"event_id": 2, "ts_e": 110, "v": "first"},
            ]
        )
    )
    # batch 2 replays event 1 (same key, later batch) + one new record
    f2 = src / "b.json"
    f2.write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"event_id": 1, "ts_e": 100, "v": "REPLAY"},
                {"event_id": 3, "ts_e": 120, "v": "first"},
            ]
        )
    )
    now = time.time()
    os.utime(f1, (now - 60, now - 60))
    os.utime(f2, (now, now))

    stream = (
        spark.readStream.schema("event_id long, ts_e long, v string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
        .select("event_id", F.timestamp_seconds("ts_e").alias("ts"), "v")
    )
    deduped = streaming_drop_duplicates(stream, ["event_id"], "ts", delay="1 hour")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)

    rows = {
        (r["event_id"], r["v"])
        for r in spark.sql("SELECT event_id, v FROM dedup_stream").collect()
    }
    # the replay of event 1 in batch 2 must NOT appear
    assert rows == {(1, "first"), (2, "first"), (3, "first")}


def test_ivf_index_crash_mid_compaction_recovers(spark, tmp_path):
    """Kill-mid-compaction story for the IVF index, manifest edition
    (r8): stage both crash shapes a staged rewrite can leave behind —
    (1) rewritten files MOVED into a leaf but never published (the
    publish is the commit point, so they are orphans no snapshot
    references) and (2) an abandoned ``_commitstage_`` dir — and prove
    queries keep answering from the intact snapshot, GC sweeps both
    debris shapes, and a subsequent append lands normally."""
    import os
    import shutil
    from pathlib import Path

    from spark_streaming_kafka_bucket_counter_spark.operators.similarity import (
        ivf_append_index,
        ivf_build_index,
        ivf_query_index,
    )
    from spark_streaming_kafka_bucket_counter_spark.sources.manifest import (
        COMMIT_STAGE_PREFIX,
        gc_index_tree,
        latest_manifest,
        manifest_read,
        scan_parquet_files,
    )

    def vec(i):
        return [1.0, float(i), float((i * i) % 7), 1.0]

    base = spark.createDataFrame(
        [(i, vec(i)) for i in range(16)], "vec_id long, embedding array<float>"
    )
    idx = str(tmp_path / "cividx")
    ivf_build_index(base, "vec_id", "embedding", idx)
    inc = spark.createDataFrame(
        [(100, [-5.0, 1.0, 0.0, 0.5])], "vec_id long, embedding array<float>"
    )
    ivf_append_index(spark, inc, "vec_id", "embedding", idx)

    m0 = latest_manifest(idx)
    cell_files = [f for f in m0["files"] if f.startswith("cells/")]
    assert len({os.path.dirname(f) for f in cell_files}) >= 2
    # crash shape 1: a "compacted" duplicate moved into the leaf but the
    # publish never happened — simulate by copying a live cell file
    # under a fresh part name; it duplicates rows, so ADOPTING it would
    # corrupt answers. The snapshot must keep ignoring it.
    dup_src = cell_files[0]
    orphan = os.path.join(
        os.path.dirname(dup_src), "part-99999-cafef00d.c000.snappy.parquet"
    )
    shutil.copyfile(os.path.join(idx, dup_src), os.path.join(idx, orphan))
    # crash shape 2: abandoned staging directory
    stage = Path(idx) / f"{COMMIT_STAGE_PREFIX}dead"
    stage.mkdir()
    (stage / "part-0.parquet").write_bytes(b"not parquet")

    got = set(
        manifest_read(spark, idx, "cells").select("vec_id").toPandas()["vec_id"]
    )
    assert got == set(range(16)) | {100}  # orphan rows NOT adopted

    gc_index_tree(idx, grace_sec=0)
    assert not stage.exists()
    m1 = latest_manifest(idx)
    assert scan_parquet_files(idx) == set(m1["files"])  # orphan swept

    # the index stays appendable and queryable after recovery
    inc2 = spark.createDataFrame(
        [(200, [-10.0, 2.0, 0.0, 1.0])], "vec_id long, embedding array<float>"
    )
    ivf_append_index(spark, inc2, "vec_id", "embedding", idx)
    probe = spark.createDataFrame(
        [(900, [-10.0, 2.0, 0.0, 1.0])], "vec_id long, embedding array<float>"
    )
    # 100 and 200 are both exactly parallel to the probe (cosine 1.0);
    # ties rank by id, so both must surface — 200 appearing proves the
    # post-recovery append landed in a probed cell
    top2 = ivf_query_index(
        spark, idx, probe, "vec_id", "embedding", nprobe=2, top_k=2
    ).collect()
    assert [r["cand_id"] for r in top2] == [100, 200]
    assert all(r["cosine"] >= 0.999999 for r in top2)

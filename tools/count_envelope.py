#!/usr/bin/env python3
"""Static envelope of the per-batch count: for each batch size, the
best-of-3 wall time of one micro-batch's count plus its
``ServingStore.append``, counted on the driver
(``pipeline.count_batch``) or by Spark (``merged_count``), on the same
parsed batch.

A batch is :data:`FILES` JSON-lines files of events shaped like
``perfbench/model.py`` (5 event types, Zipf(1.1) users over 1,500,
20 s epoch buckets), read as text and run through ``parse_and_bucket``
with the ``mixed`` workload's map, so the count sees the plan a
streaming batch gives, at each of :data:`EVENTS` batch sizes. The
driver column lifts ``pipeline.DRIVER_COUNT_MAX_BYTES`` for the run,
so ``count_batch`` takes its driver path at every size; the gate
itself is left to the tests.

Run one path per process, so the reported max RSS of the driver's
Python process is that path's own:

    python3 tools/count_envelope.py --path driver
    python3 tools/count_envelope.py --path spark

Prints one JSON line per batch size.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import sys
import tempfile
import time

import numpy as np
import pyarrow as pa

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from spark_streaming_kafka_bucket_counter_spark.operators.count import merged_count  # noqa: E402
from spark_streaming_kafka_bucket_counter_spark.session import get_spark  # noqa: E402
from spark_streaming_kafka_bucket_counter_spark.streaming import pipeline  # noqa: E402
from spark_streaming_kafka_bucket_counter_spark.streaming.serving import ServingStore  # noqa: E402

KEYS = ["etype", "uid", "bucket_start", "bucket_end"]
ETYPES = ("click", "view", "cart", "buy", "share")
EVENTS = (1_000, 10_000, 100_000, 1_000_000, 3_000_000)
FILES = 25


def write_batch(path: str, events: int, files: int, seed: int) -> int:
    """Write ``events`` JSON lines over ``files`` files; returns bytes."""
    rng = np.random.default_rng(seed)
    users = np.minimum(rng.zipf(1.1, events), 1500)
    etypes = rng.integers(0, len(ETYPES), events)
    ts = 1_700_000_000 + rng.integers(0, 60, events)
    os.makedirs(path)
    for f, idx in enumerate(np.array_split(np.arange(events), files)):
        with open(os.path.join(path, f"part-{f:03d}.json"), "w") as fh:
            fh.writelines(
                f'{{"event_type":"{ETYPES[etypes[i]]}","user_id":{users[i]},'
                f'"epoch_ts":{ts[i]},"value":1.5}}\n'
                for i in idx
            )
    return sum(e.stat().st_size for e in os.scandir(path))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--path", choices=("driver", "spark"), required=True)
    args = ap.parse_args()
    if args.path == "driver":
        pipeline.DRIVER_COUNT_MAX_BYTES = 1 << 62

    spark = get_spark(app_name="count-envelope", master="local[4]", shuffle_partitions=4)
    work = tempfile.mkdtemp(prefix="count_envelope_")
    try:
        for n in EVENTS:
            src = os.path.join(work, f"in_{n}")
            nbytes = write_batch(src, n, FILES, seed=n)
            batch = pipeline.parse_and_bucket(
                spark.read.text(src), {"etype": "event_type", "uid": "user_id"},
                "epoch_ts", 20,
            )
            store = ServingStore(spark, os.path.join(work, f"store_{n}"), clean_freq=0)
            times = []
            for b in range(4):  # one warm-up, then best of 3
                t0 = time.perf_counter()
                if args.path == "driver":
                    counts = pipeline.count_batch(batch, KEYS)
                    assert isinstance(counts, pa.Table)
                else:
                    counts = merged_count(batch, KEYS)
                store.append(counts, b)
                times.append(time.perf_counter() - t0)
            print(json.dumps({
                "path": args.path, "events": n, "input_bytes": nbytes,
                "best_s": round(min(times[1:]), 3),
                "max_rss_mb": round(
                    resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024, 1
                ),
            }), flush=True)
            shutil.rmtree(src)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Exactly-once across a hard crash: a bucket-counter service is killed
with SIGKILL (its Python driver and its JVM at once) after batch 1's
store commit and before Spark writes batch 1 to its commit log, then
restarted from the same checkpoint.

Structured Streaming's offset WAL plus an idempotent sink give
exactly-once (Structured Streaming, SIGMOD'18, "State Management and
Recovery"): the restart finds ``offsets/1`` without ``commits/1``,
replays batch 1 over the same file, and ``ServingStore.append`` replaces
the first attempt's ``RST_ID=1`` files at manifest level. The kill point
is deterministic: the child wraps ``store.append`` and kills its own
process group as soon as the real append for batch 1 returns.

The checkpoint is written through ``session.CHECKPOINT_CONF`` (raw local
filesystem, FileSystem-based checkpoint manager), whose atomicity rests
on write-to-temp plus ``rename(2)``; the checkpoint holding no ``.crc``
file shows those confs were in effect in both processes.
"""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import time
from collections import Counter
from pathlib import Path

from spark_streaming_kafka_bucket_counter_spark.sources.manifest import (
    latest_manifest,
)
from spark_streaming_kafka_bucket_counter_spark.streaming.pipeline import (
    parse_and_bucket,
    start_bucket_counter,
)
from spark_streaming_kafka_bucket_counter_spark.streaming.serving import (
    RST_COL,
    ServingStore,
)

INTERVAL = 60
ETYPES = ("click", "view", "buy")
REPO = Path(__file__).resolve().parents[1]

_CHILD = """
import os, signal, sys
from spark_streaming_kafka_bucket_counter_spark.session import get_spark
from spark_streaming_kafka_bucket_counter_spark.streaming.serving import ServingStore
from test_crash_restart import start_counter

src, ckpt, root = sys.argv[1:4]
spark = get_spark(app_name="ssbc-crash-child", master="local[2]", shuffle_partitions=2)
store = ServingStore(spark, root)
real_append = store.append


def append(df, batch_id):
    real_append(df, batch_id)
    if batch_id == 1:
        os.killpg(os.getpgid(0), signal.SIGKILL)


store.append = append
start_counter(store, src, ckpt).awaitTermination(120)
sys.exit(3)  # the kill never came
"""


def start_counter(store: ServingStore, src: str, ckpt: str):
    """The service under test: one input file per micro-batch."""
    stream = (
        store.spark.readStream.schema("value string")
        .option("maxFilesPerTrigger", 1)
        .text(src)
    )
    records = parse_and_bucket(
        stream, {"etype": "event_type"}, "epoch_ts", INTERVAL, "epoch"
    )
    return start_bucket_counter(records, store, ["etype"], checkpoint_dir=ckpt)


def _write_inputs(src: Path) -> Counter:
    """Three files with distinct counts; mtimes one second apart fix the
    file source's order, so file i is batch i. Returns the expected
    ``(RST_ID, etype, bucket_start) -> count``."""
    src.mkdir()
    expected: Counter = Counter()
    t0 = time.time() - 60
    for i in range(3):
        events = [
            (ETYPES[(j + i) % 3], 120 + INTERVAL * (j % (i + 2)) + j)
            for j in range(7 + 3 * i)
        ]
        path = src / f"b{i}.json"
        path.write_text("\n".join(
            json.dumps({"event_type": e, "epoch_ts": ts}) for e, ts in events
        ))
        os.utime(path, (t0 + i, t0 + i))
        expected.update((i, e, ts // INTERVAL * INTERVAL) for e, ts in events)
    return expected


def _group_gone(pgid: int, timeout_s: float = 30.0) -> bool:
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return True
        time.sleep(0.1)
    return False


def _batch1_files(m: dict) -> set[str]:
    return {f for f in m["files"] if f.startswith(f"{RST_COL}=1/")}


def test_sigkill_between_wal_and_commit_log_replays_batch_once(spark, tmp_path):
    src, ckpt, root = tmp_path / "src", tmp_path / "ckpt", tmp_path / "store"
    expected = _write_inputs(src)
    env = {
        **os.environ,
        "PYTHONPATH": os.pathsep.join(
            [str(REPO), str(REPO / "tests"), os.environ.get("PYTHONPATH", "")]
        ),
        "SPARK_GRAFT_DRIVER_MEM": "1g",
    }
    log = tmp_path / "child.log"
    with open(log, "wb") as out:
        child = subprocess.Popen(
            [sys.executable, "-c", _CHILD, str(src), str(ckpt), str(root)],
            env=env, stdout=out, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            rc = child.wait(timeout=180)
        finally:
            if child.poll() is None:
                os.killpg(child.pid, signal.SIGKILL)
                child.wait()
    tail = log.read_text(errors="replace")[-3000:]
    assert rc == -signal.SIGKILL, tail
    assert _group_gone(child.pid), "the child's JVM outlived the kill"

    # the kill landed between walCommit and commitOffsets of batch 1
    assert (ckpt / "commits" / "0").exists()
    assert (ckpt / "offsets" / "1").exists()
    assert not (ckpt / "commits" / "1").exists()
    first = _batch1_files(latest_manifest(root))
    assert first, "batch 1's first attempt was not committed to the store"

    store = ServingStore(spark, str(root))
    q = start_counter(store, str(src), str(ckpt))
    assert q.awaitTermination(120)
    assert q.exception() is None
    assert (ckpt / "commits" / "2").exists()

    got: Counter = Counter()
    for r in store.view().collect():
        got[(r[RST_COL], r["etype"], r["bucket_start"])] += r["count"]
    assert got == expected
    m = latest_manifest(root)
    assert set(ServingStore._ids_of(m)) == {0, 1, 2}
    replay = _batch1_files(m)
    assert replay and replay.isdisjoint(first)
    assert first <= set(m["retired"])
    crc = [
        os.path.join(d, f)
        for d, _, fs in os.walk(ckpt) for f in fs if f.endswith(".crc")
    ]
    assert crc == []

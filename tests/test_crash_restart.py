"""Exactly-once across a hard crash: a bucket-counter service is killed
with SIGKILL (its Python driver and its JVM at once) inside batch 1's
``foreachBatch``, then restarted from the same checkpoint. Two kill
points:

- after batch 1's store commit and before Spark writes batch 1 to its
  commit log: the replay's ``ServingStore.append`` replaces the first
  attempt's ``RST_ID=1`` files at manifest level;
- after batch 1's parquet files are renamed into their leaf and before
  the manifest publish: the killed attempt's files are orphans that
  never become live, and GC removes them.

Structured Streaming's offset WAL plus an idempotent sink give
exactly-once (Structured Streaming, SIGMOD'18, "State Management and
Recovery"): the restart finds ``offsets/1`` without ``commits/1`` and
replays batch 1 over the same file. Each kill point is deterministic:
the child wraps the store method it names and kills its own process
group as soon as the real call for batch 1 returns. Both batches are
small, so the pipeline counts them on the driver.

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

import pyarrow as pa

from spark_streaming_kafka_bucket_counter_spark.sources.manifest import (
    gc_index_tree,
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

src, ckpt, root, point = sys.argv[1:5]
spark = get_spark(app_name="ssbc-crash-child", master="local[2]", shuffle_partitions=2)
store = ServingStore(spark, root)
real = getattr(store, point)


def killing(*args):
    # append(counts, batch_id) or _write_leaf(parts, schema, leaf)
    out = real(*args)
    if args[-1] in (1, "RST_ID=1"):
        os.killpg(os.getpgid(0), signal.SIGKILL)
    return out


setattr(store, point, killing)
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


def _served(store: ServingStore) -> Counter:
    got: Counter = Counter()
    for r in store.view().collect():
        got[(r[RST_COL], r["etype"], r["bucket_start"])] += r["count"]
    return got


def _batch1_files(m: dict) -> set[str]:
    return {f for f in m["files"] if f.startswith(f"{RST_COL}=1/")}


def _run_killed_child(tmp_path: Path, point: str) -> tuple[Path, Path, Path, Counter]:
    """Run the service in a child process group that SIGKILLs itself
    once ``ServingStore.<point>`` returns for batch 1; assert the kill
    landed inside batch 1 (``offsets/1`` without ``commits/1``) and
    left no process behind. Returns ``(src, ckpt, root, expected)``."""
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
            [sys.executable, "-c", _CHILD, str(src), str(ckpt), str(root), point],
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
    assert (ckpt / "commits" / "0").exists()
    assert (ckpt / "offsets" / "1").exists()
    assert not (ckpt / "commits" / "1").exists()
    return src, ckpt, root, expected


def _restart_and_check(spark, src: Path, ckpt: Path, root: Path,
                       expected: Counter) -> ServingStore:
    """Restart from the same checkpoint and assert exactly-once rows,
    ``RST_ID`` = {0, 1, 2}, that batches 1 and 2 were counted on the
    driver and no ``.crc`` in the checkpoint."""
    store = ServingStore(spark, str(root))
    real_append, committed = store.append, []

    def append(counts, batch_id):
        committed.append((batch_id, isinstance(counts, pa.Table)))
        real_append(counts, batch_id)

    store.append = append
    q = start_counter(store, str(src), str(ckpt))
    assert q.awaitTermination(120)
    assert q.exception() is None
    assert (ckpt / "commits" / "2").exists()
    assert committed == [(1, True), (2, True)]

    assert _served(store) == expected
    assert set(ServingStore._ids_of(latest_manifest(root))) == {0, 1, 2}
    crc = [
        os.path.join(d, f)
        for d, _, fs in os.walk(ckpt) for f in fs if f.endswith(".crc")
    ]
    assert crc == []
    return store


def test_sigkill_between_wal_and_commit_log_replays_batch_once(spark, tmp_path):
    src, ckpt, root, expected = _run_killed_child(tmp_path, "append")
    first = _batch1_files(latest_manifest(root))
    assert first, "batch 1's first attempt was not committed to the store"

    _restart_and_check(spark, src, ckpt, root, expected)
    m = latest_manifest(root)
    replay = _batch1_files(m)
    assert replay and replay.isdisjoint(first)
    assert first <= set(m["retired"])


def test_sigkill_between_leaf_write_and_publish_leaves_only_orphans(spark, tmp_path):
    src, ckpt, root, expected = _run_killed_child(tmp_path, "_write_leaf")
    assert not _batch1_files(latest_manifest(root))
    leaf = root / f"{RST_COL}=1"
    killed = {f"{leaf.name}/{n}" for n in os.listdir(leaf)}
    assert killed, "the killed attempt wrote no file"

    store = _restart_and_check(spark, src, ckpt, root, expected)
    # no generation ever listed the killed attempt's files
    for gen in sorted((root / "_manifest").glob("v*.json")):
        m = json.loads(gen.read_text())
        assert killed.isdisjoint(m["files"]) and killed.isdisjoint(m["retired"])
    assert all((root / f).exists() for f in killed)
    gc_index_tree(root, grace_sec=0)
    assert not any((root / f).exists() for f in killed)
    assert _served(store) == expected

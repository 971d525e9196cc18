"""SparkSession factory with scale-oriented defaults.

Single place where engine-level tuning lives so every entry point (tests,
bench, driver, streaming jobs) runs with the same configuration.

Scale notes (targeting a ~1000-executor / 100 TB deployment even though we
test on local[32]):
- AQE on: runtime shuffle-partition coalescing, skew-join splitting, and
  dynamic join-strategy switching replace hand-tuned partition counts.
- ``spark.sql.shuffle.partitions`` is only the pre-AQE upper bound; on a
  real cluster raise it (e.g. 2-3x total cores) and let AQE coalesce.
- Session timezone pinned to UTC so event-time bucket math is
  deployment-independent (the reference implicitly assumed UTC epochs).
- Arrow enabled for the few Pandas-UDF operators (multimodal plumbing);
  everything else stays in JVM expressions.
- Streaming checkpoints and every ``file://`` path skip Hadoop's
  checksummed local filesystem (:data:`CHECKPOINT_CONF` gives the
  measured reason and why the checkpoint stays atomic). Other schemes
  (``hdfs://``, ``s3a://``) keep their own filesystem; an object-store
  checkpoint should override the manager class through ``extra_conf``.
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Streaming checkpoint writes without the checksummed local filesystem.
# Without libhadoop, Hadoop's ``LocalFileSystem``/``LocalFs`` (which write
# a ``.crc`` beside every file) and the default FileContext-based
# checkpoint manager spawn ``chmod`` subprocesses for each offset- and
# commit-log file. On the perfbench ``mixed`` workload (4 vCPUs, 1 s
# trigger, ten alternating pairs) these confs took the trigger phases'
# p50 from latestOffset 107.5 -> 35 ms, walCommit 74.5 -> 9 ms and
# commitOffsets 73 -> 9 ms; the filesystem pair alone or the manager
# class alone gave only part of that (SCALE.md, "Streaming checkpoint
# writes"). The manager still writes each file to a temporary path and
# renames it into place, and ``rename(2)`` is atomic on a local POSIX
# filesystem; Spark's warning that rename "may not be atomic" concerns
# object stores. ``spark.sql.streaming.checkpoint.fileChecksum.enabled``
# stays at its default (true): Spark writes its own checksum file beside
# each state-store delta, snapshot and RocksDB file (``1.delta.crc``),
# whatever the filesystem, and verifies it on load.
CHECKPOINT_CONF = {
    "spark.hadoop.fs.file.impl": "org.apache.hadoop.fs.RawLocalFileSystem",
    "spark.hadoop.fs.AbstractFileSystem.file.impl":
        "org.apache.hadoop.fs.local.RawLocalFs",
    "spark.sql.streaming.checkpointFileManagerClass":
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager",
}


def get_spark(
    app_name: str = "ssbc-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine defaults.

    ``extra_conf`` is applied last, so it overrides any default here,
    :data:`CHECKPOINT_CONF` included."""
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # local-mode driver == the whole "cluster": Spark's 1g default
        # heap OOMs broadcast builds around generator-sf1 (6M-row
        # lineitem; found by tools/scale_bench.py), long before the
        # container's memory is a constraint. Only effective on the
        # session-creating process (a JVM that already exists keeps its
        # heap); the external driver harness's own bare session runs sf0.01,
        # where 1g is fine.
        .config(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
        )
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # the codegen class cache defaults to 100 entries; a session that
        # serves the whole 174-query catalog (bench, the driver loop, a
        # long-lived serving process) compiles far more generated classes
        # than that, and eviction turns later queries' stages back into
        # fresh Janino compiles (~100-300 ms each, visible as uniform
        # catalog-wide inflation as the catalog grows)
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Duser.timezone=UTC")
        .config("spark.executor.extraJavaOptions", "-Duser.timezone=UTC")
    )
    for k, v in {**CHECKPOINT_CONF, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def stream_drain_partitions(spark: SparkSession) -> int:
    """Shuffle/state partition count for a bounded ``availableNow``
    drain (the catalog's oracle-harness streaming queries).

    In Structured Streaming ``spark.sql.shuffle.partitions`` fixes the
    stateful operator's STATE-STORE partition count (locked in at the
    first checkpoint; AQE never applies to stateful plans). Every state
    partition pays a fixed per-micro-batch commit — a delta file write
    plus maintenance snapshotting — independent of how many rows it
    holds, so for a bounded drain whose whole state is KB-scale the
    commit overhead dominates wall-clock: measured at sf0.1/local[32],
    the stream-stream interval join drain runs ~8.5 s at 32 partitions
    and ~2.7 s at 8 (guide §1 empirical loop; the per-partition commit
    is the 'shuffle-adjacent fixed cost' analog of §2.2's many-small-
    blocks problem). State partitioning should therefore track STATE
    VOLUME, not core count — the production knob is the
    ``SPARK_GRAFT_STREAM_PARTITIONS`` env (set it to 2-3x cores for
    genuinely large state); the default is
    ``min(defaultParallelism, 8)`` so small drains stop paying 32
    commit fees per batch while a lower-core bench stays comparable.
    """
    env = os.environ.get("SPARK_GRAFT_STREAM_PARTITIONS")
    if env:
        try:
            return max(1, int(env))
        except ValueError:
            pass
    return max(1, min(spark.sparkContext.defaultParallelism, 8))


def loop_shuffle_partitions(
    spark: SparkSession, n_rows: int, rows_per_partition: int = 150_000
) -> int:
    """Per-round shuffle partition count for ITERATIVE DataFrame loops
    (pagerank / LPA / star-alternation CC), sized by the loop's data
    volume instead of the session's core-count default.

    An iterative round does O(1) work per row, so its wall-clock is
    (per-partition fixed cost: task launch, lineage-cut block write,
    shuffle block handling — ~50-100 ms each locally) x partitions +
    row work / partitions. With the session default (= cores) every
    round pays the full fixed cost fan-out even when a partition holds
    only a few thousand rows — measured at sf0.1/local[32], 5-round
    pagerank over 1.2M mirrored edges runs 5.5 s at 32 partitions and
    3.2 s at 8 (guide §2.2: fewer, larger partitions; a 1-partition
    loop is WORSE again — 7.5 s — because rounds serialize, hence the
    floor). ~150k edge rows per partition keeps per-partition row work
    comfortably above the fixed cost while the cap
    (4 x defaultParallelism, min 64) lets a wide cluster stay fully
    used; ``SPARK_GRAFT_LOOP_PARTITIONS`` overrides for deployments
    that know better.
    """
    env = os.environ.get("SPARK_GRAFT_LOOP_PARTITIONS")
    if env:
        try:
            return max(1, int(env))
        except ValueError:
            pass
    cap = max(4 * spark.sparkContext.defaultParallelism, 64)
    return max(2, min(-(-n_rows // max(1, rows_per_partition)), cap))


@contextlib.contextmanager
def restored_conf(spark: SparkSession, *keys: str):
    """Save the named session confs and restore them (set back or unset)
    on exit — session hygiene for operators that must pin a conf while a
    query EXECUTES inside the block. Only safe when execution completes
    within the block (e.g. a streaming drain); a lazily-returned
    DataFrame still reads SQLConf at its own execution time, so restoring
    around a lazy plan would un-pin it.
    """
    saved: dict[str, str | None] = {}
    for k in keys:
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

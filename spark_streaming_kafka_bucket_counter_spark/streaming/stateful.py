"""Custom stateful streaming operator: cross-batch running bucket-count
via ``applyInPandasWithState`` with optional TTL state eviction.

This is the "custom operator" escape hatch the engine offers where the
built-in stateful aggregation (pipeline.start_merged_counter) can't
express the semantics — e.g. per-key TTLs independent of watermarks, or
arbitrary per-group Python logic. It reproduces the reference's
MySQL-upsert running count (main.py:410-467, ``ON DUPLICATE KEY UPDATE
count = count + v``) as explicit group state:

- group key = projected fields + bucket bounds (the upsert's PRIMARY KEY)
- state     = one LongType running count per key
- per batch = count the key's new rows (Arrow batches, vectorized),
  add to state, emit the updated total (update-mode row)
- TTL       = ProcessingTimeTimeout; an idle key's state is dropped and a
  tombstone row (count = -1) emitted — the retention knob the reference
  lacks (its MySQL table grows forever).

Scale notes: state lives in the executors' state store partitioned by
group key (one shuffle per batch, same as the built-in agg); Arrow moves
rows Python-side per group. Prefer the built-in ``merged_count`` when the
semantics fit — this path exists for what Catalyst can't express, and its
per-group cost is O(rows in batch) with no per-row Python.
"""

from __future__ import annotations

from typing import Iterable, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import LongType, StructField, StructType

from .pipeline import start_writer


def _output_schema(records: DataFrame, keys: list[str]) -> StructType:
    fields = [records.schema[k] for k in keys]
    return StructType(
        [StructField(f.name, f.dataType, True) for f in fields]
        + [StructField("count", LongType(), False)]
    )


STATE_SCHEMA = StructType([StructField("n", LongType(), False)])


def make_running_count_func(keys: list[str], ttl_ms: int | None):
    """Build the (key, batches, state) -> rows function. Module-level
    builder (not a closure over DataFrames) so it pickles cleanly to
    executors."""

    def fn(
        key: Tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        if state.hasTimedOut:
            # TTL eviction: drop state, emit a tombstone the sink can use
            # to retract the key (count = -1 sentinel).
            state.remove()
            row = dict(zip(keys, key))
            row["count"] = -1
            yield pd.DataFrame([row])
            return
        new = sum(len(pdf) for pdf in pdfs)
        (prev,) = state.get if state.exists else (0,)
        total = prev + new
        state.update((total,))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        row = dict(zip(keys, key))
        row["count"] = total
        yield pd.DataFrame([row])

    return fn


def running_bucket_count(
    records: DataFrame,
    group_cols: list[str],
    ttl_ms: int | None = None,
) -> DataFrame:
    """records (already bucketed) -> update-mode stream of running counts
    per (group_cols, bucket_start, bucket_end)."""
    keys = [*group_cols, "bucket_start", "bucket_end"]
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if ttl_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return records.groupBy(*keys).applyInPandasWithState(
        make_running_count_func(keys, ttl_ms),
        outputStructType=_output_schema(records, keys),
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=timeout,
    )


def start_stateful_counter(
    records: DataFrame,
    group_cols: list[str],
    checkpoint_dir: str,
    query_name: str = "stateful_counts",
    ttl_ms: int | None = None,
    trigger: dict | None = None,
) -> StreamingQuery:
    """Wire :func:`running_bucket_count` to the in-memory sink (swap for
    Kafka/JDBC in production)."""
    counts = running_bucket_count(records, group_cols, ttl_ms)
    writer = (
        counts.writeStream.outputMode("update")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
    )
    return start_writer(writer, trigger)

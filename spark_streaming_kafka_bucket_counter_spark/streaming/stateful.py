"""Custom stateful streaming operator: cross-batch running bucket-count
via ``applyInPandasWithState``.

This is the "custom operator" escape hatch the engine offers where the
built-in stateful aggregation (pipeline.start_merged_counter) can't
express the semantics — arbitrary per-group Python logic over explicit
group state. It reproduces the reference's
MySQL-upsert running count (main.py:410-467, ``ON DUPLICATE KEY UPDATE
count = count + v``) as explicit group state:

- group key = projected fields + bucket bounds (the upsert's PRIMARY KEY)
- state     = one LongType running count per key
- per batch = count the key's new rows (Arrow batches, vectorized),
  add to state, emit the updated total (update-mode row)

The catalog's ``stateful_running_count`` drains it through
``pipeline.drain_to_table``.

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
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import LongType, StructField, StructType


def _output_schema(records: DataFrame, keys: list[str]) -> StructType:
    fields = [records.schema[k] for k in keys]
    return StructType(
        [StructField(f.name, f.dataType, True) for f in fields]
        + [StructField("count", LongType(), False)]
    )


STATE_SCHEMA = StructType([StructField("n", LongType(), False)])


def make_running_count_func(keys: list[str]):
    """Build the (key, batches, state) -> rows function. Module-level
    builder (not a closure over DataFrames) so it pickles cleanly to
    executors."""

    def fn(
        key: Tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        new = sum(len(pdf) for pdf in pdfs)
        (prev,) = state.get if state.exists else (0,)
        total = prev + new
        state.update((total,))
        row = dict(zip(keys, key))
        row["count"] = total
        yield pd.DataFrame([row])

    return fn


def running_bucket_count(records: DataFrame, group_cols: list[str]) -> DataFrame:
    """records (already bucketed) -> update-mode stream of running counts
    per (group_cols, bucket_start, bucket_end)."""
    keys = [*group_cols, "bucket_start", "bucket_end"]
    return records.groupBy(*keys).applyInPandasWithState(
        make_running_count_func(keys),
        outputStructType=_output_schema(records, keys),
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

"""The streaming bucket-counter pipeline — Structured Streaming rewiring of
the reference's composition root (``kafka_http_sqlite``, main.py:243-288,
and ``ss_kafka_bucket_counter``, main.py:91-133).

Reference dataflow: Kafka -> drop keys -> JSON parse + project + bucket ->
per-batch reduceByKey count -> accumulator flip -> mp.Queue -> SQLite.
Here: ``readStream`` -> ``from_json`` projection -> bucket columns ->
``foreachBatch`` (per-batch count + a serving-store commit of the
counts under ``RST_ID=batch_id``). One process, one lineage,
checkpointed.

Two count semantics (SURVEY §2.11), both supported:
- ``per_batch`` (default, reference serving parity): the same bucket key
  in two micro-batches yields two serving rows with different RST_IDs.
- ``merged`` (reference MySQL-upsert parity, A5): stateful streaming
  ``groupBy().count()`` in update mode; optionally watermarked so state
  is evicted at scale (the reference grows state forever).

Scale: source parallelism = Kafka partition count (vs the reference's
single receiver, main.py:115). A micro-batch Spark sizes at no more than
:data:`DRIVER_COUNT_MAX_BYTES` (64 MB) is counted on the driver
(:func:`count_batch`): one
Arrow collect of its key columns, one Spark job with no exchange, and a
pyarrow group-by, so driver memory is O(events x key width) below that
gate. A larger batch, or one whose source reports no size (Kafka, the
``rate`` source), is counted by Spark's partial->final hash aggregation,
the only shuffle.
Either way the sink commit writes the counts with pyarrow under the
batch's ``RST_ID`` partition (``ServingStore.append``), so a micro-batch
runs no Spark write job; the counts are O(distinct keys per batch), and
``spark.driver.maxResultSize`` bounds their collect.
"""

from __future__ import annotations

import shutil
import tempfile
import uuid
from typing import Callable

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery
from pyspark.sql.types import (
    BooleanType,
    ByteType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
)

from ..functions.buckets import with_bucket
from ..functions.projection import decode_json_values
from ..operators.count import merged_count
from ..session import restored_conf, stream_drain_partitions
from ..sources.files import NANOS_AS_LONG
from .serving import ServingStore


# reserved internal column: the raw bucket source value, independent of
# whatever the conversion map projects (it may rename or drop the field)
BUCKET_SRC_COL = "_bucket_src"


def parse_and_bucket(
    stream: DataFrame,
    conversion: dict[str, str],
    bucket_field: str,
    bucket_interval: int,
    bucket_type: str = "epoch",
    value_col: str = "value",
) -> DataFrame:
    """value-string stream -> projected + bucketed record stream.

    The streaming analog of ``json_dict_bucket_parse`` (utils.py:62-97):
    decode JSON, apply the {new: old} conversion map, attach
    bucket_start/bucket_end. Matching the reference, the bucket is always
    computed from the RAW ``bucket_field`` of the decoded record
    (utils.py:93-94) — a conversion map that renames the source field
    (e.g. ``{"ts_new": "timestamp"}`` with ``bucket_field="timestamp"``)
    still buckets correctly; the raw field itself appears in the output
    only if the map projects it.
    """
    decoded = decode_json_values(
        stream,
        conversion,
        value_col=value_col,
        bucket_field_src=bucket_field,
        bucket_field_alias=BUCKET_SRC_COL,
    )
    bucketed = with_bucket(decoded, BUCKET_SRC_COL, bucket_interval, bucket_type)
    return bucketed.drop(BUCKET_SRC_COL)


def start_writer(
    writer: DataStreamWriter, trigger: dict | None = None
) -> StreamingQuery:
    """Start ``writer`` under ``trigger`` — keyword arguments for
    ``DataStreamWriter.trigger``, e.g. ``{"processingTime": "5 seconds"}``
    — or ``availableNow`` (drain what the source holds, then stop: the
    test/backfill mode) when ``trigger`` is None. Every streaming query
    the package starts resolves its trigger here."""
    return writer.trigger(**(trigger or {"availableNow": True})).start()


def start_bucket_counter(
    records: DataFrame,
    store: ServingStore,
    group_cols: list[str],
    checkpoint_dir: str,
    trigger: dict | None = None,
    bucket_interval: int | None = None,
) -> StreamingQuery:
    """Per-batch count -> serving store append (reference K1 semantics).

    ``records`` is the output of :func:`parse_and_bucket`. Each micro-batch
    is counted independently (:func:`count_batch` inside foreachBatch:
    on the driver below the size gate, else a Spark groupBy) and
    appended under its batch_id partition — K7/K8 tagged bulk insert,
    with the store's clean_freq-driven retention.

    ``trigger`` defaults to the reference's cadence
    (``processingTime=bucket_interval+5 s``, main.py:111) when
    ``bucket_interval`` is given, else ``availableNow`` (drain & stop —
    the test/backfill mode).
    """
    keys = [*group_cols, "bucket_start", "bucket_end"]

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        store.append(count_batch(batch_df, keys), batch_id)

    writer = records.writeStream.foreachBatch(_process).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger is None and bucket_interval is not None:
        trigger = {"processingTime": f"{bucket_interval + 5} seconds"}
    return start_writer(writer, trigger)


#: the largest batch, by Spark's size estimate of its plan, that
#: :func:`count_batch` counts on the driver: the Arrow collect holds the
#: batch's key columns in driver memory. 64 MB is the data Spark's
#: adaptive execution gives one task by default.
DRIVER_COUNT_MAX_BYTES = 64 << 20

#: key types whose pyarrow group-by equality is Spark's grouping
#: equality: binary-collated strings, integrals and booleans. Spark
#: normalizes NaN and -0.0 in float keys before grouping, and collated
#: strings group by their collation, so those and every other type are
#: counted by Spark.
_DRIVER_KEY_TYPES = (
    StringType(), ByteType(), ShortType(), IntegerType(), LongType(),
    BooleanType(),
)


def _fits_driver(batch_df: DataFrame, keys: list[str]) -> bool:
    """True when ``batch_df`` may be counted on the driver: every key is
    one of :data:`_DRIVER_KEY_TYPES` and Spark's size estimate of the
    batch plan is at most :data:`DRIVER_COUNT_MAX_BYTES`. Inside
    ``foreachBatch`` the plan is a ``LogicalRDD`` carrying the source's
    statistics; a source that reports none (Kafka, ``rate``) gets
    Spark's default estimate, far above the bound. The estimate is the
    analyzed plan's, which needs no optimizer run (for a ``LogicalRDD``
    the two plans are the same)."""
    schema = batch_df.schema
    if any(schema[k].dataType not in _DRIVER_KEY_TYPES for k in keys):
        return False
    size = batch_df._jdf.queryExecution().analyzed().stats().sizeInBytes()
    return size <= DRIVER_COUNT_MAX_BYTES


def count_batch(batch_df: DataFrame, keys: list[str]) -> DataFrame | pa.Table:
    """Count one micro-batch per ``keys``: the rows and schema of
    :func:`~..operators.count.merged_count`, for
    :meth:`~.serving.ServingStore.append`.

    A batch that passes :func:`_fits_driver` is counted on the driver:
    one Arrow collect of the key columns (one Spark job, one stage, a
    parallel scan, no exchange), then a pyarrow group-by, in
    ``merged_count``'s schema (keys as Spark types them, ``count``
    bigint NOT NULL). It returns that Arrow table. Any other batch
    returns ``merged_count``'s lazy frame, which the store collects.

    The group-by runs over each key's dictionary indices, with NULL
    encoded as an index of its own, and takes the key values back from
    the dictionaries: pyarrow 16's hash grouper splits groups of a
    multi-column key that holds NULLs (one group counted as several).
    """
    if not _fits_driver(batch_df, keys):
        return merged_count(batch_df, keys)
    table = batch_df.select(*keys).toArrow()
    schema = pa.schema([
        *(table.schema.field(k) for k in keys),
        pa.field("count", pa.int64(), nullable=False),
    ])
    codes = [
        pc.dictionary_encode(table[k].combine_chunks(), null_encoding="encode")
        for k in keys
    ]
    index = pa.table({str(i): c.indices for i, c in enumerate(codes)})
    groups = index.group_by(index.column_names).aggregate([([], "count_all")])
    return pa.table([
        *(c.dictionary.take(groups[str(i)]) for i, c in enumerate(codes)),
        groups["count_all"],
    ], schema=schema)


DRAIN_TIMEOUT_S = 300


def drain_to_table(
    spark: SparkSession,
    name: str,
    build: Callable[[], DataFrame],
    output_mode: str = "append",
) -> DataFrame:
    """Run the streaming query ``build()`` returns to completion
    (``availableNow``) into a memory table and return that table — an
    incremental query executed as one bounded drain, the shape of the
    catalog's oracle-checked streaming queries.

    For the drain's whole execution the session pins ``nanosAsLong``
    (the events parquet), a UTC session time zone (event-time columns
    round-trip through TIMESTAMP_LTZ, and the caller's session may carry
    a local zone) and :func:`~..session.stream_drain_partitions` state
    partitions. ``build`` runs inside the pin, because defining a file
    stream already reads the parquet schema. All three confs are
    restored afterwards and the drain's checkpoint dir is deleted, so the
    caller's session and ``/tmp`` are left as they were. A drain that
    does not finish within :data:`DRAIN_TIMEOUT_S` is stopped and raises
    instead of returning a partial sink.

    The memory sink is the driver-sized ORACLE-HARNESS shape only; the
    production sink is ``foreachBatch`` into a partitioned parquet
    ``ServingStore`` (:func:`start_bucket_counter`) — do not copy the
    memory sink to a cluster.
    """
    pins = {
        NANOS_AS_LONG: "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.shuffle.partitions": str(stream_drain_partitions(spark)),
    }
    table = f"{name}_{uuid.uuid4().hex[:8]}"
    with restored_conf(spark, *pins):
        for key, value in pins.items():
            spark.conf.set(key, value)
        ckpt = tempfile.mkdtemp(prefix="ssbc_ckpt_")
        try:
            writer = (
                build().writeStream.format("memory")
                .queryName(table)
                .outputMode(output_mode)
                .option("checkpointLocation", ckpt)
            )
            q = start_writer(writer)
            if not q.awaitTermination(DRAIN_TIMEOUT_S):
                q.stop()
                raise RuntimeError(
                    f"{name}: availableNow drain did not finish within "
                    f"{DRAIN_TIMEOUT_S}s — refusing to query a partial sink"
                )
        finally:
            shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(table)


def streaming_drop_duplicates(
    records: DataFrame,
    keys: list[str],
    ts_col: str,
    delay: str = "1 hour",
) -> DataFrame:
    """Streaming-native exact dedup ACROSS micro-batches (ingestion
    dedup — at-least-once sources replay records; training pipelines
    must not double-count them).

    ``dropDuplicatesWithinWatermark`` keys executor state by ``keys`` and
    evicts entries once the watermark passes ``delay`` — bounded state,
    the knob a plain ``dropDuplicates`` on a stream lacks (its state
    grows forever, the same flaw as the reference's MySQL mirror). At
    scale: one shuffle on the key per micro-batch, state store lookups
    are per-key point reads.
    """
    return records.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(keys)


def start_merged_counter(
    records: DataFrame,
    group_cols: list[str],
    checkpoint_dir: str,
    query_name: str = "merged_counts",
    watermark: tuple[str, str] | None = None,
    trigger: dict | None = None,
) -> StreamingQuery:
    """Cross-batch running count (reference A5 MySQL-upsert semantics) as a
    native stateful streaming aggregation in update mode.

    ``watermark=(ts_col, "1 hour")`` enables state eviction — the
    scale-ready option the reference lacks (its MySQL table just grows).
    Results land in the in-memory sink named ``query_name`` for queries;
    swap the sink for Kafka/JDBC in production.
    """
    keys = [*group_cols, "bucket_start", "bucket_end"]
    if watermark is not None:
        records = records.withWatermark(*watermark)
    counts = merged_count(records, keys)
    writer = (
        counts.writeStream.outputMode("update")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
    )
    return start_writer(writer, trigger)


def streaming_interval_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    left_ts: str,
    right_ts: str,
    within_seconds: int,
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream inner join: right events on the same key whose
    timestamp falls in ``[left_ts, left_ts + within_seconds]`` — e.g.
    "purchases within an hour of the click". Both inputs must be
    streaming DataFrames with DISTINCT timestamp column names.

    Scale semantics: Structured Streaming keeps both sides' unmatched
    rows in state; the watermark + the closed time-range condition bound
    that state (rows age out once the other side's watermark passes
    their join window) — without the range condition the state would
    grow forever. The join itself shuffles both streams on the key,
    exactly like the batch equi-join.

    The same call works on batch DataFrames (the condition degrades to a
    plain range predicate), which is what the parity test exploits.
    """
    from pyspark.sql import functions as F

    from ..functions.buckets import require_utc_session

    if left_ts == right_ts:
        raise ValueError("left_ts and right_ts must be distinct column names")
    # downstream consumers round-trip the LTZ event time back to epoch
    # seconds via field extraction — only identity under a UTC session
    require_utc_session(left.sparkSession)
    if left.isStreaming:
        left = left.withWatermark(left_ts, watermark)
    if right.isStreaming:
        right = right.withWatermark(right_ts, watermark)
    cond = (
        (left[key_col] == right[key_col])
        & (F.col(right_ts) >= F.col(left_ts))
        & (
            F.col(right_ts)
            <= F.col(left_ts) + F.expr(f"INTERVAL {within_seconds} SECONDS")
        )
    )
    return left.join(right, cond).drop(right[key_col])


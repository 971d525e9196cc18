"""Tumbling time-bucket assignment (reference parity: P3-P11).

The reference attaches a half-open bucket ``[bucket_start, bucket_end)`` of
fixed width ``bucket_interval`` seconds to every record, derived from a
designated timestamp field (``audit_utils/utils.py:62-97``). Two source
encodings are supported (``TS_LEGEND``, ``utils.py:14-21``):

- ``epoch``:  integer/float seconds since the Unix epoch; bucket math is
  ``start = (long(epoch) // interval) * interval`` (``utils.py:216-238``).
- ``iso``:    ``%Y-%m-%dT%H:%M:%S.%fZ`` strings parsed then bucketed via
  seconds-since-midnight (``utils.py:184-214``) — which equals the epoch
  formula whenever ``interval`` evenly divides 86400, the documented
  requirement (reference README:44).

Spark-first design: both paths compile to pure Catalyst expressions
(cast + floor + multiply) that stay inside whole-stage codegen — no UDFs.
We deliberately use the explicit floor formula rather than ``F.window``
so the output columns are plain BIGINT epoch seconds exactly like the
reference's output rows; ``with_time_window`` offers the native
``window()`` struct for watermarked streaming aggregations.

At 100 TB scale: bucket assignment is a narrow (per-row) transformation —
no shuffle — and the downstream ``groupBy(bucket, keys)`` shuffle hashes
on low-cardinality-per-interval keys; AQE handles sizing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Reference ISO format: '%Y-%m-%dT%H:%M:%S.%fZ' (utils.py:240-250).
ISO_TS_FORMAT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"

BUCKET_TYPES = ("epoch", "iso", "timestamp")


def ts_epoch_seconds(col: Column) -> Column:
    """Epoch seconds (BIGINT) of a timestamp-like column, timezone-free
    for TIMESTAMP_NTZ inputs.

    Built from date + time-of-day fields rather than a cast chain:
    Spark 4 rejects ``cast(timestamp_ntz as bigint)`` outright, and
    routing NTZ through TIMESTAMP_LTZ would shift by the session zone.
    For NTZ (and castable string) inputs, field extraction yields the
    same naive epoch DuckDB's ``epoch()`` computes under ANY session
    timezone. For TIMESTAMP_LTZ inputs the extracted fields are
    session-timezone-LOCAL wall-clock values, so the result is the true
    epoch only when ``spark.sql.session.timeZone`` is UTC —
    ``session.get_spark`` pins that, the catalog's streaming drains pin
    it while they execute (``streaming.pipeline.drain_to_table``), and
    :func:`require_utc_session` is the loud guard for any new LTZ
    round-trip call site.
    """
    return (
        F.unix_date(col.cast("date")) * F.lit(86400)
        + F.hour(col) * F.lit(3600)
        + F.minute(col) * F.lit(60)
        + F.second(col)
    ).cast("long")


def require_utc_session(spark) -> None:
    """Fail loudly when an LTZ ``timestamp_seconds`` ->
    :func:`ts_epoch_seconds` round-trip would be wrong: field extraction
    on TIMESTAMP_LTZ values reads session-local wall clock, so the
    round-trip is identity only under a UTC session timezone."""
    tz = spark.conf.get("spark.sql.session.timeZone", "")
    if tz not in ("UTC", "Etc/UTC", "GMT", "Z", "+00:00"):
        raise ValueError(
            f"this operator round-trips event time through TIMESTAMP_LTZ and "
            f"requires spark.sql.session.timeZone=UTC (got {tz!r}); set the "
            "conf (session.get_spark pins it) before building the stream"
        )


def epoch_seconds(col: Column, bucket_type: str = "epoch") -> Column:
    """Normalize a source column to integer epoch seconds (BIGINT).

    ``epoch``: numeric seconds, truncated like the reference's ``long()``
    cast (utils.py:16). ``iso``: reference ISO-8601 format. ``timestamp``:
    a native timestamp column (superset of the reference; what the parquet
    test tables carry).
    """
    if bucket_type == "epoch":
        # double-first: accepts ints, floats, and stringified floats
        # (incl. scientific notation from JSON encoders); truncation to
        # whole seconds == the reference's long() cast. try_cast keeps a
        # malformed record from killing the stream (it lands in a NULL
        # bucket — the dead-letter path; the reference raised instead,
        # utils.py:16).
        return col.try_cast("double").cast("long")
    if bucket_type == "iso":
        return F.try_to_timestamp(col, F.lit(ISO_TS_FORMAT)).cast("long")
    if bucket_type == "timestamp":
        return ts_epoch_seconds(col)
    raise ValueError(f"unknown bucket_type {bucket_type!r}; expected one of {BUCKET_TYPES}")


def bucket_start_col(col: Column, interval: int, bucket_type: str = "epoch") -> Column:
    """``(epoch // interval) * interval`` — reference utils.py:235-236."""
    secs = epoch_seconds(col, bucket_type)
    return (F.floor(secs / interval) * interval).cast("long")


def with_bucket(
    df: DataFrame,
    field: str,
    interval: int,
    bucket_type: str = "epoch",
    start_name: str = "bucket_start",
    end_name: str = "bucket_end",
) -> DataFrame:
    """Append ``bucket_start``/``bucket_end`` BIGINT columns (P3).

    Half-open ``[start, end)`` semantics, epoch-aligned, exactly the
    reference's ``json_dict_bucket_parse`` output shape (utils.py:62-97).
    """
    if interval <= 0:
        raise ValueError(f"bucket interval must be positive, got {interval}")
    start = bucket_start_col(F.col(field), interval, bucket_type)
    return df.withColumn(start_name, start).withColumn(
        end_name, (start + F.lit(interval)).cast("long")
    )


def with_time_window(df: DataFrame, field: str, interval: int) -> DataFrame:
    """Native ``F.window`` variant for watermarked streaming aggregation.

    Produces the same epoch-aligned tumbling buckets as ``with_bucket``
    but as a ``window struct<start,end>`` that Structured Streaming can
    age out with ``withWatermark`` — the scale-ready late-data path the
    reference lacks (SURVEY §2.11: reference accepts late data forever).
    """
    return df.withColumn("window", F.window(F.col(field), f"{interval} seconds"))


def with_bucket_iso_strings(
    df: DataFrame,
    field: str,
    interval: int,
    bucket_type: str = "epoch",
) -> DataFrame:
    """P8: bucket bounds rendered as reference-format ISO strings
    (``bucket_datetime``, utils.py:132-166 — unused by the reference main
    path but part of its API surface). Built on the epoch variant, then
    formatted."""
    out = with_bucket(df, field, interval, bucket_type)
    fmt = lambda c: F.date_format(F.timestamp_seconds(F.col(c)), ISO_TS_FORMAT)  # noqa: E731
    return out.withColumn("bucket_start_iso", fmt("bucket_start")).withColumn(
        "bucket_end_iso", fmt("bucket_end")
    )


def bucket_now_epoch(interval: int = 20) -> Column:
    """Current-time bucket start (reference ``bucket_now_epoch``, utils.py:168-182)."""
    return bucket_start_col(F.current_timestamp(), interval, bucket_type="timestamp")

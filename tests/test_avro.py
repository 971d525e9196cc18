"""Executed Avro path: the pure-Python binary codec (functions/avro_lite)
and its Spark integration (source-side decode via avro_values, response
encode via custom_sql_avro) — the reference's S3/S4/H3 surface, run for
real with no spark-avro jar on the classpath.

Schema under test: the canonical Apache Avro "User" example (string +
two nullable-union fields) — the same shape as the reference's doctest
schema (utils.py:319-329).
"""

from __future__ import annotations

import json

import pytest

from spark_streaming_kafka_bucket_counter_spark.functions import avro_lite as A
from spark_streaming_kafka_bucket_counter_spark.sources.kafka import avro_values
from spark_streaming_kafka_bucket_counter_spark.streaming import api
from spark_streaming_kafka_bucket_counter_spark.streaming.serving import ServingStore

USER_SCHEMA = json.dumps(
    {
        "namespace": "example.avro",
        "type": "record",
        "name": "User",
        "fields": [
            {"name": "name", "type": "string"},
            {"name": "favorite_number", "type": ["int", "null"]},
            {"name": "favorite_color", "type": ["string", "null"]},
        ],
    }
)
USERS = [
    {"name": "Alyssa", "favorite_number": 256, "favorite_color": None},
    {"name": "Ben", "favorite_number": 7, "favorite_color": "red"},
    {"name": "木村", "favorite_number": None, "favorite_color": None},
]


# ---------------------------------------------------------------------------
# Wire-format pins (Avro spec examples — engine-independent byte checks)
# ---------------------------------------------------------------------------


def test_zigzag_varint_spec_pins():
    for n, raw in [(0, b"\x00"), (-1, b"\x01"), (1, b"\x02"), (-64, b"\x7f"), (64, b"\x80\x01")]:
        out = bytearray()
        A._write_long(out, n)
        assert bytes(out) == raw, n
        back, pos = A._read_long(raw, 0)
        assert (back, pos) == (n, len(raw))


def test_record_encoding_spec_pin():
    """The Avro spec's worked example: {'a': long, 'b': string} with
    a=27, b='foo' encodes to 36 06 66 6f 6f."""
    fields = A.parse_schema(
        json.dumps(
            {
                "type": "record",
                "name": "test",
                "fields": [
                    {"name": "a", "type": "long"},
                    {"name": "b", "type": "string"},
                ],
            }
        )
    )
    assert A.encode_record(fields, {"a": 27, "b": "foo"}) == b"\x36\x06foo"


def test_roundtrip_with_unions():
    fields = A.parse_schema(USER_SCHEMA)
    for u in USERS:
        assert A.decode_record(fields, A.encode_record(fields, u)) == u


def test_multi_record_framing():
    """S4: msg_count framing is back-to-back records; decode until the
    buffer is exhausted."""
    fields = A.parse_schema(USER_SCHEMA)
    blob = b"".join(A.encode_record(fields, u) for u in USERS)
    assert A.decode_records(fields, blob) == USERS


def test_none_for_non_nullable_type_raises():
    """A None in a schema-non-nullable field must fail loudly — silent
    coercion (str(None) -> 'None', bool(None) -> False) would emit
    corrupted payloads."""
    fields = A.parse_schema(
        json.dumps(
            {
                "type": "record",
                "name": "t",
                "fields": [
                    {"name": "s", "type": "string"},
                    {"name": "b", "type": "boolean"},
                ],
            }
        )
    )
    with pytest.raises(ValueError, match="non-nullable"):
        A.encode_record(fields, {"s": None, "b": True})
    with pytest.raises(ValueError, match="non-nullable"):
        A.encode_record(fields, {"s": "x"})  # missing field -> None


def test_spark_encode_nullable_int_union_with_nulls(spark):
    """Arrow hands int64-with-nulls to pandas as float64; integral
    floats must still route to the int branch of ['int','null']."""
    df = spark.createDataFrame(
        [("a", 256), ("b", None), ("c", 7)],
        "name string, favorite_number int",
    )
    schema = json.dumps(
        {
            "type": "record",
            "name": "U",
            "fields": [
                {"name": "name", "type": "string"},
                {"name": "favorite_number", "type": ["int", "null"]},
            ],
        }
    )
    encoded = A.avro_encode_df(df, schema).collect()
    fields = A.parse_schema(schema)
    got = sorted(
        tuple(A.decode_record(fields, bytes(r["avro"])).items()) for r in encoded
    )
    assert got == sorted(
        tuple(d.items())
        for d in [
            {"name": "a", "favorite_number": 256},
            {"name": "b", "favorite_number": None},
            {"name": "c", "favorite_number": 7},
        ]
    )


def test_unsupported_schema_rejected():
    with pytest.raises(ValueError, match="unsupported"):
        A.parse_schema(
            json.dumps(
                {
                    "type": "record",
                    "name": "t",
                    "fields": [{"name": "m", "type": {"type": "map", "values": "int"}}],
                }
            )
        )


# ---------------------------------------------------------------------------
# Spark integration (executes the fallback — no spark-avro jar present)
# ---------------------------------------------------------------------------


def test_avro_values_decodes_kafka_shaped_stream(spark):
    """Binary Kafka-value column -> struct column j, matching the
    from_avro output contract."""
    fields = A.parse_schema(USER_SCHEMA)
    df = spark.createDataFrame(
        [(A.encode_record(fields, u),) for u in USERS], "value binary"
    )
    out = avro_values(df, USER_SCHEMA).select("j.*").collect()
    key = lambda u: u["name"]  # noqa: E731
    assert sorted((r.asDict() for r in out), key=key) == sorted(USERS, key=key)


def test_custom_sql_avro_roundtrip(spark, tmp_path):
    """H3: query rows encoded to Avro bytes and decoded back intact."""
    store = ServingStore(spark, str(tmp_path / "store"), clean_interval=100, clean_freq=10)
    store.append(
        spark.createDataFrame(
            [("click", 3), ("view", 1)], "event_type string, count long"
        ),
        0,
    )
    schema = json.dumps(
        {
            "type": "record",
            "name": "CountRow",
            "fields": [
                {"name": "event_type", "type": "string"},
                {"name": "count", "type": "long"},
            ],
        }
    )
    encoded = api.custom_sql_avro(
        store, "SELECT event_type, count FROM default", schema
    ).collect()
    fields = A.parse_schema(schema)
    got = sorted(
        tuple(A.decode_record(fields, bytes(r["avro"])).values()) for r in encoded
    )
    assert got == [("click", 3), ("view", 1)]


# ---------------------------------------------------------------------------
# Kafka value projection (P1) — a static frame with Kafka's source schema
# ---------------------------------------------------------------------------


def test_kafka_values_keeps_only_value_as_string(spark):
    from spark_streaming_kafka_bucket_counter_spark.sources.kafka import kafka_values

    rows = [
        (b"k1", b'{"a": 1}', "events", 0, 10),
        (None, None, "events", 1, 11),
    ]
    src = spark.createDataFrame(
        rows, "key binary, value binary, topic string, partition int, offset long"
    )
    out = kafka_values(src)
    assert [(f.name, f.dataType.simpleString()) for f in out.schema.fields] == [
        ("value", "string")
    ]
    assert sorted(out.collect(), key=lambda r: r.value is None) == [
        ('{"a": 1}',),
        (None,),
    ]

"""HTTP status mapping without Spark: only the store's typed empty-store
error answers ``200 []``; a malformed path argument is a 400."""

from __future__ import annotations

import urllib.error
import urllib.request

import pytest

from spark_streaming_kafka_bucket_counter_spark.streaming.http import serve


@pytest.fixture()
def base():
    server, _ = serve(object())  # the routes below fail before any store call
    yield f"http://127.0.0.1:{server.server_address[1]}"
    server.shutdown()


@pytest.mark.parametrize("path", ["/rv/empty", "/dv/empty"])
def test_non_integer_argument_is_bad_request(base, path):
    with pytest.raises(urllib.error.HTTPError) as err:
        urllib.request.urlopen(base + path)
    assert err.value.code == 400
    assert b"empty" in err.value.read()

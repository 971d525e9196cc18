"""End-to-end HTTP endpoint test: real sockets, real JSON, the reference's
curl transcript (README.md:110-177) replayed against the rebuilt routes."""

from __future__ import annotations

import json
import urllib.parse
import urllib.request

import pytest

from spark_streaming_kafka_bucket_counter_spark.streaming.http import serve
from spark_streaming_kafka_bucket_counter_spark.streaming.serving import ServingStore


@pytest.fixture()
def endpoint(spark, tmp_path):
    store = ServingStore(spark, str(tmp_path / "store"), clean_interval=100, clean_freq=10)
    store.append(
        spark.createDataFrame(
            [("click", 1), ("view", 4)], "event_type string, count long"
        ),
        0,
    )
    store.append(
        spark.createDataFrame([("click", 2)], "event_type string, count long"), 1
    )
    server, _ = serve(store)
    yield f"http://127.0.0.1:{server.server_address[1]}"
    server.shutdown()


def _get(base, path):
    quoted = urllib.parse.quote(path)
    with urllib.request.urlopen(base + quoted) as resp:
        return resp.status, json.loads(resp.read())


def test_select_all_and_star_default(endpoint):
    status, rows = _get(endpoint, "/a/*")
    assert status == 200 and len(rows) == 3
    assert {r["event_type"] for r in rows} == {"click", "view"}


def test_custom_sql_route(endpoint):
    # the reference's README example: /c/Select * FROM default WHERE count=1
    status, rows = _get(endpoint, "/c/Select * FROM default WHERE count=1")
    assert status == 200 and len(rows) == 1 and rows[0]["event_type"] == "click"


def test_rst_and_recent_and_direct(endpoint):
    assert _get(endpoint, "/rst")[1] == {"rst_id": 1}
    status, recent = _get(endpoint, "/rv/1")
    assert status == 200 and {r["count"] for r in recent} == {2}
    status, b0 = _get(endpoint, "/dv/0")
    assert status == 200 and len(b0) == 2


def test_range_filter_route(endpoint):
    status, rows = _get(endpoint, "/sr/count/2:None")
    assert status == 200 and sorted(r["count"] for r in rows) == [2, 4]


def test_comparator_dict_route(endpoint):
    cdict = json.dumps({"count": ["lte", 2]})
    status, rows = _get(endpoint, f"/c/{cdict}/EOE")
    assert status == 200 and sorted(r["count"] for r in rows) == [2, 4]
    # parse failure -> empty result, not an error (http_endpoint.py:210-212)
    status, rows = _get(endpoint, "/c/not json/EOE")
    assert status == 200 and rows == []


def test_bad_sql_is_json_error_not_traceback(endpoint):
    import urllib.error

    try:
        status, body = _get(endpoint, "/c/SELECT nope FROM missing")
    except urllib.error.HTTPError as e:
        status, body = e.code, json.loads(e.read())
    assert status == 500 and "error" in body


def test_reset_wipes_state(endpoint):
    assert _get(endpoint, "/r")[1] == {"reset": True}
    assert _get(endpoint, "/a/*")[1] == []


def test_concurrent_clients(endpoint):
    """ThreadingHTTPServer + thread-safe Spark session: 16 parallel
    clients mixing routes must all succeed with consistent answers (the
    reference served one Flask worker against SQLite)."""
    from concurrent.futures import ThreadPoolExecutor

    paths = [
        "/a/*",
        "/rst",
        "/rv/1",
        "/dv/0",
        "/sr/count/1:None",
        "/c/Select * FROM default WHERE count=2",
    ] * 3
    with ThreadPoolExecutor(max_workers=16) as pool:
        results = list(pool.map(lambda p: (p, *_get(endpoint, p)), paths))
    for path, status, body in results:
        assert status == 200, path
    by_path = {}
    for path, _, body in results:
        by_path.setdefault(path, []).append(json.dumps(body, sort_keys=True))
    # every repeat of the same query returned the identical answer
    for path, bodies in by_path.items():
        assert len(set(bodies)) == 1, path
    assert {r["count"] for r in results[0][2]} == {1, 2, 4}


def test_row_cap_truncates_large_reads(spark, tmp_path):
    """The driver-OOM guard: a store holding far more rows than the cap
    must answer every collecting route with exactly ``max_rows`` rows
    plus the X-Truncated header — never the full table — while reads
    under the cap come back whole with no header."""
    from spark_streaming_kafka_bucket_counter_spark.streaming import api
    from pyspark.sql import functions as F

    store = ServingStore(
        spark, str(tmp_path / "bigstore"), clean_interval=100, clean_freq=10
    )
    n = 100_000
    big = spark.range(n).select(
        F.concat(F.lit("t"), (F.col("id") % 7).cast("string")).alias("event_type"),
        F.col("id").alias("count"),
    )
    store.append(big, 0)

    # function-level: explicit cap
    rows = api.select_all(store, "*", max_rows=50)
    assert len(rows) == 50 and getattr(rows, "truncated", False)
    # -1 = unlimited reference-compat override
    assert len(api.custom_sql(store, "SELECT count FROM default", max_rows=-1)) == n

    server, _ = serve(store, max_rows=50)
    base = f"http://127.0.0.1:{server.server_address[1]}"
    try:
        for path in ("/a/*", "/c/Select * FROM default", "/rv/1", "/dv/0",
                     "/sr/count/0:None"):
            with urllib.request.urlopen(base + urllib.parse.quote(path)) as resp:
                body = json.loads(resp.read())
                assert resp.status == 200 and len(body) == 50, path
                assert resp.headers.get("X-Truncated") == "true", path
        # under-cap reads are whole and unflagged
        with urllib.request.urlopen(
            base + urllib.parse.quote("/c/Select * FROM default WHERE count < 10")
        ) as resp:
            assert len(json.loads(resp.read())) == 10
            assert resp.headers.get("X-Truncated") is None
    finally:
        server.shutdown()


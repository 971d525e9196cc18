"""Query-only gate on the arbitrary-SQL serving surface (SURVEY §7.3(d)).

The reference served full SQL over HTTP against a throwaway SQLite file
(http_endpoint.py:88-92, models.py:155-187); here the same route reaches
a live SparkSession, so mutating statements must be refused BEFORE they
execute — spark.sql runs DDL eagerly, so a post-hoc check would be too
late. Queries are read-only too: after ``spark.sql`` (or ``spark.table``
for ``/a/<table>``) the analyzed plan is refused if it reads files
outside the store or calls JVM methods through reflection. These tests
drive real sockets end-to-end and also pin the parser-level classifier.
"""

from __future__ import annotations

import json
import urllib.error
import urllib.parse
import urllib.request

import pytest

from spark_streaming_kafka_bucket_counter_spark.streaming.http import serve
from spark_streaming_kafka_bucket_counter_spark.streaming.serving import (
    CommandRejected,
    ServingStore,
    reject_non_query,
)


@pytest.fixture()
def gated(spark, tmp_path):
    store = ServingStore(spark, str(tmp_path / "store"))
    store.append(
        spark.createDataFrame(
            [("click", 1), ("view", 4)], "event_type string, count long"
        ),
        0,
    )
    server, _ = serve(store)
    yield store, f"http://127.0.0.1:{server.server_address[1]}"
    server.shutdown()


def _get(base, path):
    quoted = urllib.parse.quote(path)
    try:
        with urllib.request.urlopen(base + quoted) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as exc:
        return exc.code, json.loads(exc.read())


QUERIES_OK = [
    "SELECT 1 AS one",
    "SELECT * FROM default WHERE count = 1",
    "WITH x AS (SELECT count FROM default) SELECT max(count) AS m FROM x",
    "(SELECT 1 AS a) UNION ALL (SELECT 2 AS a)",
    "VALUES (1, 2)",
    "TABLE default",
    "FROM default SELECT event_type",
]

COMMANDS_BLOCKED = [
    "DROP TABLE default",
    "INSERT INTO default VALUES ('x', 9)",
    "INSERT OVERWRITE TABLE default SELECT * FROM default",
    "CREATE TABLE pwned (a INT) USING parquet",
    "CREATE TABLE pwned AS SELECT * FROM default",
    "CREATE OR REPLACE TEMPORARY VIEW default AS SELECT 1",
    "SET spark.sql.shuffle.partitions=1",
    "ADD JAR '/tmp/evil.jar'",
    "CACHE TABLE default",
    "DELETE FROM default WHERE count = 1",
    "UPDATE default SET count = 0",
    "TRUNCATE TABLE default",
    "ALTER TABLE default ADD COLUMNS (z INT)",
    "LOAD DATA INPATH '/etc/passwd' INTO TABLE default",
    # root-node-only bypasses (ADVICE r6 high): the mutation hides below
    # a top-level UnresolvedWith / UnresolvedExecuteImmediate node
    "WITH x AS (SELECT 1) INSERT INTO default SELECT 'x', 9 FROM x",
    "WITH x AS (SELECT 1 AS a) DELETE FROM default "
    "WHERE EXISTS (SELECT 1 FROM x)",
    "WITH x AS (SELECT 1) MERGE INTO default USING x ON true "
    "WHEN MATCHED THEN DELETE",
    "EXECUTE IMMEDIATE 'DROP TABLE default'",
]


def test_classifier_accepts_queries(spark):
    for sql in QUERIES_OK:
        reject_non_query(spark, sql)  # no raise


def test_classifier_rejects_commands(spark):
    for sql in COMMANDS_BLOCKED:
        with pytest.raises(CommandRejected):
            reject_non_query(spark, sql)


def test_classifier_lets_parse_errors_through(spark):
    # unparseable SQL is NOT a gate decision: spark.sql raises the real
    # ParseException with its good error message
    reject_non_query(spark, "SELEKT oops FROM")


def test_readonly_commands_stay_queryable(spark):
    for sql in ("SHOW TABLES", "EXPLAIN SELECT 1", "DESCRIBE TABLE default"):
        reject_non_query(spark, sql)  # no raise


def test_explain_of_a_mutation_stays_queryable(spark):
    # EXPLAIN never executes its payload; the tree walk must not descend
    # into read-only commands and reject their inner InsertIntoStatement
    reject_non_query(spark, "EXPLAIN INSERT INTO default VALUES ('x', 9)")


def test_http_cte_wrapped_insert_is_403(gated):
    store, base = gated
    status, _ = _get(
        base, "/c/WITH x AS (SELECT 1) INSERT INTO default SELECT 'x', 9 FROM x"
    )
    assert status == 403
    status, rows = _get(base, "/a/*")
    assert status == 200 and len(rows) == 2  # nothing was inserted


def test_http_select_is_200(gated):
    _, base = gated
    status, rows = _get(base, "/c/SELECT * FROM default WHERE count=1")
    assert status == 200 and rows[0]["event_type"] == "click"


def test_http_drop_table_is_403_and_store_intact(gated):
    store, base = gated
    status, body = _get(base, "/c/DROP TABLE default")
    assert status == 403 and "DropTable" in body["error"]
    # the store still answers — nothing was dropped
    status, rows = _get(base, "/a/*")
    assert status == 200 and len(rows) == 2
    # and the view is still resolvable through SQL
    status, rows = _get(base, "/c/SELECT count(*) AS n FROM default")
    assert status == 200 and rows[0]["n"] == 2


def test_http_insert_is_403(gated):
    _, base = gated
    status, body = _get(base, "/c/INSERT INTO default VALUES ('x', 9)")
    assert status == 403 and "InsertIntoStatement" in body["error"]
    status, rows = _get(base, "/a/*")
    assert len(rows) == 2  # row count unchanged


def test_http_cs_route_is_gated_too(gated):
    _, base = gated
    status, _ = _get(base, "/cs/SET spark.sql.ansi.enabled=false")
    assert status == 403


SECRET = "gate-probe-secret-7f3a"


@pytest.fixture()
def secret_file(tmp_path):
    """A driver-local file outside the store that no route may read."""
    path = tmp_path / "secret.txt"
    path.write_text(SECRET + "\n")
    return str(path)


@pytest.mark.parametrize("route", [
    "/c/SELECT * FROM text.`{f}`",
    "/c/SELECT * FROM IDENTIFIER('text.`{f}`')",
    "/a/text.`{f}`",
    "/c/SELECT * FROM default WHERE event_type IN (SELECT value FROM text.`{f}`)",
    "/c/WITH x AS (SELECT value FROM text.`{f}`) SELECT * FROM x",
    "/cs/SELECT * FROM text.`{f}`",
])
def test_http_file_reads_outside_the_store_are_403(gated, secret_file, route):
    _, base = gated
    status, body = _get(base, route.format(f=secret_file))
    assert status == 403, body
    assert SECRET not in json.dumps(body)


@pytest.mark.parametrize("call", [
    "reflect('java.lang.System', 'getProperty', 'java.home')",
    "java_method('java.lang.System', 'getProperty', 'java.home')",
    "try_reflect('java.lang.System', 'getProperty', 'java.home')",
])
@pytest.mark.parametrize("shape", [
    "/c/SELECT {call} AS r",
    "/c/SELECT * FROM default WHERE event_type IN (SELECT {call})",
])
def test_http_reflection_calls_are_403(gated, call, shape):
    store, base = gated
    java_home = store.spark._jvm.java.lang.System.getProperty("java.home")
    status, body = _get(base, shape.format(call=call))
    assert status == 403, body
    assert java_home not in json.dumps(body)


@pytest.mark.parametrize("sql, n", [
    ("SELECT * FROM default WHERE event_type IN "
     "(SELECT event_type FROM default WHERE count = 1)", 1),
    ("SELECT * FROM default WHERE count > (SELECT min(count) FROM default)", 1),
    ("SELECT event_type FROM default WHERE rand() >= 0", 2),
])
def test_http_queries_over_the_store_stay_200(gated, sql, n):
    _, base = gated
    status, rows = _get(base, "/c/" + sql)
    assert status == 200 and len(rows) == n, rows

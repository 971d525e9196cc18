"""The named-query catalog: every operator from SURVEY.md §2, exposed as
(spark, sf_dir) -> DataFrame callables with matching DuckDB oracle SQL.

Registration pattern: ``@query(name, oracle_sql)`` adds both halves to the
registries consumed by ``__spark_entry__.queries()`` / ``oracle_sql()``.
Column-name/alias parity between the Spark plan and the oracle SQL is part
of the contract (the driver hashes values under sorted column names).
Each registered query is ``operators._cache.scoped``: every cache its
plan persists lives exactly as long as the DataFrame it returns.

Determinism rules used throughout (so order-insensitive value hashes
match across engines):
- never emit raw DOUBLE aggregates: sums of doubles are accumulation-order
  dependent. Money aggregates are computed as exact integer cents
  (``CAST(ROUND(x * 10000) AS BIGINT)`` per row — exact because inputs
  have <=4 meaningful decimals — then summed as BIGINT).
- DuckDB ``SUM(BIGINT)`` returns HUGEINT; always cast back to BIGINT.
- timestamps are compared as epoch seconds (BIGINT), never as raw
  timestamp values (parquet ns vs us representations differ).
- LIMIT queries carry a total order (explicit tie-break column).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import predicates as P
from ..functions.buckets import ISO_TS_FORMAT, ts_epoch_seconds, with_bucket
from ..functions.projection import decode_json_values, project_fields
from ..operators._cache import scoped
from ..operators.count import bucket_count, merged_count, select_max
from ..sources.files import load_table, stream_events
from ..streaming.pipeline import drain_to_table

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in QUERIES:
            # Fail at import, not at judging time: the registry is a
            # plain dict, so a duplicate name would SILENTLY shadow an
            # existing query (which one wins depends on module import
            # order) while its CORRECTNESS history keeps reading as the
            # old semantics. r11 nearly shipped exactly this.
            raise ValueError(
                f"duplicate catalog query name {name!r} "
                f"(existing: {QUERIES[name].__module__})"
            )
        QUERIES[name] = fn = scoped(fn)
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# epoch-seconds of a timestamp column, truncated to whole seconds the same
# way Spark's timestamp->long cast does (floor for positive epochs).
_DUCK_EPOCH = "CAST(floor(epoch({col})) AS BIGINT)"


# ---------------------------------------------------------------------------
# A1 + P3/P4: THE core query — count per (projected keys, tumbling bucket).
# Reference: main.py:125-126 reduceByKey over json_dict_bucket_parse keys.
# ---------------------------------------------------------------------------
@query(
    "bucket_count_epoch",
    f"""
    SELECT event_type,
           ({_DUCK_EPOCH.format(col='ts')} // 20) * 20      AS bucket_start,
           ({_DUCK_EPOCH.format(col='ts')} // 20) * 20 + 20 AS bucket_end,
           COUNT(*) AS "count"
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def q_bucket_count_epoch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """20s tumbling bucket-count of events by event_type (reference A1)."""
    return bucket_count(
        _t(spark, sf_dir, "events"),
        keys=["event_type"],
        bucket_field="ts",
        interval=20,
        bucket_type="timestamp",
    )


@query(
    "bucket_count_multikey",
    f"""
    SELECT event_type, user_id,
           ({_DUCK_EPOCH.format(col='ts')} // 300) * 300       AS bucket_start,
           ({_DUCK_EPOCH.format(col='ts')} // 300) * 300 + 300 AS bucket_end,
           COUNT(*) AS "count"
    FROM events
    GROUP BY 1, 2, 3, 4
    """,
)
def q_bucket_count_multikey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key projection + 5-min buckets (conversion map with 2 fields)."""
    return bucket_count(
        _t(spark, sf_dir, "events"),
        keys=["event_type", "user_id"],
        bucket_field="ts",
        interval=300,
        bucket_type="timestamp",
    )


# P10 + P5: ISO-8601 parse path ('iso' bucket_type in TS_LEGEND).
@query(
    "bucket_count_iso",
    f"""
    WITH iso AS (
      SELECT event_type, strftime(ts, '%Y-%m-%dT%H:%M:%S.%fZ') AS iso_ts FROM events
    )
    SELECT event_type,
           (CAST(floor(epoch(strptime(iso_ts, '%Y-%m-%dT%H:%M:%S.%fZ'))) AS BIGINT) // 60) * 60      AS bucket_start,
           (CAST(floor(epoch(strptime(iso_ts, '%Y-%m-%dT%H:%M:%S.%fZ'))) AS BIGINT) // 60) * 60 + 60 AS bucket_end,
           COUNT(*) AS "count"
    FROM iso
    GROUP BY 1, 2, 3
    """,
)
def q_bucket_count_iso(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip through the reference's ISO format, then bucket-count.

    Exercises P10 (cast_iso_to_dtime parity: '%Y-%m-%dT%H:%M:%S.%fZ') and
    the 'iso' branch of TS_LEGEND (utils.py:14-21).
    """
    events = _t(spark, sf_dir, "events").select(
        "event_type", F.date_format("ts", ISO_TS_FORMAT).alias("iso_ts")
    )
    return bucket_count(
        events, keys=["event_type"], bucket_field="iso_ts", interval=60, bucket_type="iso"
    )


# P2: conversion-map projection/rename {new: old}.
@query(
    "project_rename",
    """
    SELECT event_id AS eid, event_type AS etype, user_id AS uid FROM events
    """,
)
def q_project_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    return project_fields(
        _t(spark, sf_dir, "events"),
        {"eid": "event_id", "etype": "event_type", "uid": "user_id"},
    )


# S5 + P2: JSON-string decode through a conversion map (the Kafka value path
# on static data; props is a JSON object column).
@query(
    "json_decode_count",
    """
    SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k, COUNT(*) AS "count"
    FROM events
    GROUP BY 1
    """,
)
def q_json_decode_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    decoded = decode_json_values(
        _t(spark, sf_dir, "events"), conversion={"k": "k"}, value_col="props"
    )
    return merged_count(decoded.select(F.col("k").cast("long").alias("k")), ["k"])


# A5: cross-batch accumulated count (MySQL upsert semantics == plain groupBy
# over the full input).
@query(
    "merged_count_by_type",
    'SELECT event_type, COUNT(*) AS "count" FROM events GROUP BY 1',
)
def q_merged_count_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    return merged_count(_t(spark, sf_dir, "events"), ["event_type"])


# A5 via the CUSTOM stateful operator: the applyInPandasWithState running
# count, driven end-to-end through Structured Streaming (availableNow over
# the events parquet). max(count) per key is the final running total no
# matter how the file source splits micro-batches, so the streaming result
# is oracle-checkable against the plain batch GROUP BY.
@query(
    "stateful_running_count",
    f"""
    SELECT event_type,
           ({_DUCK_EPOCH.format(col='ts')} // 3600) * 3600        AS bucket_start,
           ({_DUCK_EPOCH.format(col='ts')} // 3600) * 3600 + 3600 AS bucket_end,
           COUNT(*) AS "count"
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def q_stateful_running_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-batch running count (A5) EXECUTED as a stateful streaming
    aggregation in update mode, drained with availableNow."""
    from ..streaming.stateful import running_bucket_count

    def build() -> DataFrame:
        epoch = ts_epoch_seconds(F.col("ts")).cast("double").alias("epoch_ts")
        records = with_bucket(
            stream_events(spark, sf_dir).select("event_type", epoch),
            "epoch_ts",
            3600,
            "epoch",
        ).select("event_type", "bucket_start", "bucket_end")
        return running_bucket_count(records, ["event_type"])

    # update mode emits each key's running total once per micro-batch it
    # grows in; max(count) is the final total however the drain splits
    return (
        drain_to_table(spark, "stateful_running_count", build, "update")
        .groupBy("event_type", "bucket_start", "bucket_end")
        .agg(F.max("count").alias("count"))
    )


# A4: MAX aggregate (select_max, models.py:667-700).
@query("select_max", "SELECT MAX(o_orderkey) AS max_o_orderkey FROM orders")
def q_select_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    return select_max(_t(spark, sf_dir, "orders"), "o_orderkey")


# Q1: SELECT * (select_all, models.py:309-333).
@query("select_all", "SELECT * FROM nation")
def q_select_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "nation")


# ---------------------------------------------------------------------------
# F1-F11: comparator predicate algebra (DumpTable family).
# ---------------------------------------------------------------------------
_EV_COLS = "event_id, event_type, user_id, value"


@query(
    "predicate_eq",
    f"SELECT {_EV_COLS} FROM events WHERE event_type = 'click'",
)
def q_predicate_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _t(spark, sf_dir, "events").select("event_id", "event_type", "user_id", "value")
    return P.select(df, {"event_type": "click"})


@query(
    "predicate_range",
    f"SELECT {_EV_COLS} FROM events WHERE value >= 10 AND value <= 100",
)
def q_predicate_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _t(spark, sf_dir, "events").select("event_id", "event_type", "user_id", "value")
    return P.select_range(df, {"value": (10, 100)})


@query(
    "predicate_range_open",
    f"SELECT {_EV_COLS} FROM events WHERE value >= 50",
)
def q_predicate_range_open(spark: SparkSession, sf_dir: str) -> DataFrame:
    """None = unbounded side (models.py:1070-1078)."""
    df = _t(spark, sf_dir, "events").select("event_id", "event_type", "user_id", "value")
    return P.select_range(df, {"value": (50, None)})


@query(
    "predicate_erange",
    f"SELECT {_EV_COLS} FROM events WHERE value > 10 AND value < 100",
)
def q_predicate_erange(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _t(spark, sf_dir, "events").select("event_id", "event_type", "user_id", "value")
    return P.general_select(df, {"value": (10, 100)}, "erange")


# Reference comparator direction: comparison(param, row) — so select_gte
# with param 90 keeps rows WHERE 90 >= user_id (models.py:828-858).
@query("predicate_gte", f"SELECT {_EV_COLS} FROM events WHERE 90 >= user_id")
def q_predicate_gte(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _t(spark, sf_dir, "events").select("event_id", "event_type", "user_id", "value")
    return P.select_gte(df, {"user_id": 90})


@query("predicate_gt", f"SELECT {_EV_COLS} FROM events WHERE 90 > user_id")
def q_predicate_gt(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _t(spark, sf_dir, "events").select("event_id", "event_type", "user_id", "value")
    return P.select_gt(df, {"user_id": 90})


@query("predicate_lte", f"SELECT {_EV_COLS} FROM events WHERE 5 <= user_id")
def q_predicate_lte(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _t(spark, sf_dir, "events").select("event_id", "event_type", "user_id", "value")
    return P.select_lte(df, {"user_id": 5})


@query("predicate_lt", f"SELECT {_EV_COLS} FROM events WHERE 5 < user_id")
def q_predicate_lt(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _t(spark, sf_dir, "events").select("event_id", "event_type", "user_id", "value")
    return P.select_lt(df, {"user_id": 5})


@query(
    "predicate_custom_expr",
    f"SELECT {_EV_COLS} FROM events WHERE event_type = 'view' AND value > 50",
)
def q_predicate_custom_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11: 'custom:' comparator == parsed SQL boolean (eval replacement)."""
    df = _t(spark, sf_dir, "events").select("event_id", "event_type", "user_id", "value")
    return P.general_select(df, {"value": None}, "custom:event_type = 'view' AND value > 50")


@query(
    "predicate_per_field",
    f"SELECT {_EV_COLS} FROM events WHERE event_type = 'purchase' AND value >= 20 AND value <= 80",
)
def q_predicate_per_field(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2: per-field comparator dict (c_general_select, models.py:874-928)."""
    df = _t(spark, sf_dir, "events").select("event_id", "event_type", "user_id", "value")
    return P.c_general_select(
        df, {"event_type": ("eq", "purchase"), "value": ("range", (20, 80))}
    )


# ---------------------------------------------------------------------------
# Q2: arbitrary-SQL pass-through — the serving layer's full-SQL surface
# (run_cmd, models.py:155-187). Spark SQL is the strict superset engine;
# demonstrated with multi-join aggregations the reference could only reach
# via SQLite on tiny accumulated tables.
# ---------------------------------------------------------------------------
_REVENUE_CENTS = "CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)"


@query(
    "sql_join_revenue_by_nation",
    f"""
    SELECT n_name, CAST(SUM({_REVENUE_CENTS}) AS BIGINT) AS revenue_x10k,
           COUNT(*) AS "count"
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def q_sql_join_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-join aggregate via spark.sql over registered views (H2/Q2).

    Scale notes: nation (25 rows) is broadcast; customer->orders->lineitem
    join keys are the natural co-partitioning keys. Revenue is summed as
    exact integer 1/10000ths (see module docstring).
    """
    for name in ("customer", "orders", "lineitem", "nation"):
        _t(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(
        f"""
        SELECT n_name, SUM({_REVENUE_CENTS}) AS revenue_x10k, COUNT(*) AS count
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN nation   ON c_nationkey = n_nationkey
        GROUP BY n_name
        """
    )


@query(
    "sql_topk_orders",
    """
    SELECT o_orderkey, o_custkey, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS totalprice_cents
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 25
    """,
)
def q_sql_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY + LIMIT pass-through (sort/limit ride through Q2).

    Spark plans this as TakeOrderedAndProject — no global sort shuffle.
    """
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS totalprice_cents
        FROM orders
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 25
        """
    )


@query(
    "sql_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT)      AS sum_qty_x100,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_x100,
           COUNT(*) AS count_order
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_sql_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-flavor aggregate suite through the SQL surface (Q2).

    Money/quantity sums as exact integer cents (module docstring rules).
    """
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               SUM(CAST(ROUND(l_quantity * 100, 0) AS BIGINT))      AS sum_qty_x100,
               SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) AS sum_price_x100,
               COUNT(*) AS count_order
        FROM lineitem
        GROUP BY l_returnflag, l_linestatus
        """
    )


@query(
    "sql_distinct_count",
    """
    SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_customers, COUNT(*) AS n_orders
    FROM orders GROUP BY o_orderstatus
    """,
)
def q_sql_distinct_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT aggregation (expand + two-phase agg under the hood)."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_customers, COUNT(*) AS n_orders
        FROM orders GROUP BY o_orderstatus
        """
    )


@query(
    "sql_left_join_agg",
    """
    SELECT c_mktsegment, COUNT(o_orderkey) AS n_orders, COUNT(*) AS n_rows
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_mktsegment
    """,
)
def q_sql_left_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outer join + null-skipping COUNT semantics through the SQL surface."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT c_mktsegment, COUNT(o_orderkey) AS n_orders, COUNT(*) AS n_rows
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_mktsegment
        """
    )


@query(
    "sql_window_rank",
    """
    SELECT * FROM (
      SELECT c_mktsegment, o_orderkey,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS totalprice_cents,
             CAST(row_number() OVER (
               PARTITION BY c_mktsegment
               ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
      FROM orders JOIN customer ON o_custkey = c_custkey
    ) WHERE rn <= 3
    """,
)
def q_sql_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic window function (top-3 orders per market segment)."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT * FROM (
          SELECT c_mktsegment, o_orderkey,
                 CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS totalprice_cents,
                 CAST(row_number() OVER (
                   PARTITION BY c_mktsegment
                   ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
          FROM orders JOIN customer ON o_custkey = c_custkey
        ) WHERE rn <= 3
        """
    )


@query(
    "sql_set_ops",
    """
    SELECT c_custkey FROM customer WHERE c_acctbal > 0
    INTERSECT
    SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
)
def q_sql_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations (INTERSECT) through the SQL surface."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT c_custkey FROM customer WHERE c_acctbal > 0
        INTERSECT
        SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'F'
        """
    )


@query(
    "sql_grouping_sets",
    """
    SELECT coalesce(o_orderstatus, 'ALL') AS orderstatus,
           coalesce(o_orderpriority, 'ALL') AS orderpriority,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
    """,
)
def q_sql_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS (subtotal lattice) through the SQL surface — one
    pass, Spark expands the sets without re-scanning the input."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT coalesce(o_orderstatus, 'ALL') AS orderstatus,
               coalesce(o_orderpriority, 'ALL') AS orderpriority,
               COUNT(*) AS n_orders
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
        """
    )


@query(
    "sql_exists_anti",
    """
    SELECT c_custkey, c_nationkey
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
      AND EXISTS     (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey)
    """,
)
def q_sql_exists_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated [NOT] EXISTS through the SQL surface: customers with
    orders but none in status 'F'. Catalyst decorrelates both subqueries
    into left-semi + left-anti hash joins on o_custkey — no per-row
    subquery execution, the shape that survives 100 TB."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT c_custkey, c_nationkey
        FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
          AND EXISTS     (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey)
        """
    )


@query(
    "sql_shipping_priority",
    f"""
    SELECT l_orderkey,
           CAST(SUM({_REVENUE_CENTS}) AS BIGINT) AS revenue_x10k,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < DATE '1995-03-15'
      AND l_shipdate  > DATE '1995-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue_x10k DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
)
def q_sql_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 flavor (shipping priority) through the SQL surface: the
    classic selective 3-way join + date-range filters + grouped top-k.
    Both date predicates push to the parquet scans; the segment filter
    prunes customer before the join; the LIMIT rides as
    TakeOrderedAndProject (distributed partial top-k, no global sort).
    Revenue in exact integer 1/10000ths; full ORDER BY tie-break for a
    deterministic LIMIT."""
    for name in ("customer", "orders", "lineitem"):
        _t(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(
        f"""
        SELECT l_orderkey,
               SUM({_REVENUE_CENTS}) AS revenue_x10k,
               o_orderdate, o_orderpriority
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < DATE '1995-03-15'
          AND l_shipdate  > DATE '1995-03-15'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue_x10k DESC, o_orderdate, l_orderkey
        LIMIT 10
        """
    )


# A1 under synthetic skew: the salted two-stage variant must produce the
# exact same totals as the plain groupBy (the oracle never sees the salt).
@query(
    "salted_count_by_type",
    'SELECT event_type, COUNT(*) AS "count" FROM events GROUP BY 1',
)
def q_salted_count_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.count import salted_count

    return salted_count(_t(spark, sf_dir, "events"), ["event_type"], salt_buckets=8)


# The shuffle-join leg of the skew toolkit: salting must be invisible in
# the result — the oracle is the PLAIN join.
@query(
    "salted_join_revenue",
    """
    SELECT c_mktsegment,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents,
           COUNT(*) AS n_orders
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY 1
    """,
)
def q_salted_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders joined to customer through the SALTED shuffle join
    (operators/joins.py): the fact side takes a partition-local salt,
    the dim side replicates 8x, the join key widens to (custkey, salt) —
    a hot customer's orders spread over 8 reducers. Result-identical to
    the plain join (the oracle), here rolled up to revenue per market
    segment with exact integer cents."""
    from ..operators.joins import salted_join

    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment"
    )
    joined = salted_join(orders, cust, ["custkey"], salt_buckets=8)
    return joined.groupBy("c_mktsegment").agg(
        F.sum("cents").alias("revenue_cents"),
        F.count(F.lit(1)).alias("n_orders"),
    )


# ---------------------------------------------------------------------------
# R2/R4/H6: retention + recent-N-batches semantics. The serving store's
# RST_ID batch counter is modeled by a daily pseudo-batch id over events;
# retention == keep batches newer than (max - clean_interval)
# (clean(), models.py:702-735).
# ---------------------------------------------------------------------------
@query(
    "retention_recent_batches",
    f"""
    WITH tagged AS (
      SELECT event_id, event_type, ({_DUCK_EPOCH.format(col='ts')} // 86400) AS batch_id
      FROM events
    )
    SELECT event_id, event_type, batch_id
    FROM tagged
    WHERE batch_id > (SELECT MAX(batch_id) FROM tagged) - 7
    """,
)
def q_retention_recent_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep the most recent N batches (R2 clean + H6 /rv/<n> semantics).

    The max-batch-id subquery becomes a 1-row broadcast join — no shuffle
    of the big side, scale-safe.
    """
    tagged = (
        _t(spark, sf_dir, "events")
        .select(
            "event_id",
            "event_type",
            (F.floor(ts_epoch_seconds(F.col("ts")) / 86400)).cast("long").alias("batch_id"),
        )
    )
    max_batch = tagged.agg(F.max("batch_id").alias("_max_batch"))
    return (
        tagged.join(F.broadcast(max_batch))
        .filter(F.col("batch_id") > F.col("_max_batch") - 7)
        .select("event_id", "event_type", "batch_id")
    )


def _green_latest_round(correctness_dir: "Path | None" = None) -> dict:
    """``{catalog name: latest driver round with a green row}`` from the
    CORRECTNESS_r*.json files on disk. "Green" = the row's check
    actually passed: a hash-matched row, or an errorless rows-only row
    for a query that STILL has no oracle (a query whose only rows were
    ``err: no_oracle`` and that has since grown an oracle is
    legitimately due for re-sampling). Missing/unreadable files simply
    contribute nothing — a fresh checkout degenerates to plain
    insertion order."""
    import glob as _glob
    import json as _json
    import re as _re
    from pathlib import Path

    root = correctness_dir or Path(__file__).resolve().parents[2]
    latest: dict = {}
    for path in sorted(_glob.glob(str(Path(root) / "CORRECTNESS_r*.json"))):
        m = _re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        rnd = int(m.group(1)) if m else 0
        try:
            with open(path) as fh:
                rows = _json.load(fh)
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            # a well-formed-JSON-but-not-an-object file (e.g. a top-level
            # array) parses fine and would crash at .items() below,
            # breaking catalog ordering at import (ADVICE r11 #2)
            continue
        for name, row in rows.items():
            if not isinstance(row, dict):
                continue
            ok = row.get("hash_match") or (
                row.get("err") == "no_oracle" and name not in ORACLES
            )
            if ok:
                latest[name] = max(rnd, latest.get(name, 0))
    return latest


def _driver_green_names(correctness_dir: "Path | None" = None) -> set:
    """Catalog names ever-green in a committed driver CORRECTNESS file
    (the key set of :func:`_green_latest_round`)."""
    return set(_green_latest_round(correctness_dir))


def _priority_ordered(reg: dict, correctness_dir: "Path | None" = None) -> dict:
    """Emit never-driver-sampled queries FIRST (insertion order among
    themselves), then the rest OLDEST-GREEN-FIRST (ascending latest
    green round, insertion order among ties). The driver oracle-checks
    a ~50-query sample per round taken as an insertion-order prefix, so
    this (a) rotates never-green queries into coverage immediately and
    (b) bounds every green row's staleness: with N catalog names and a
    sample of S per round, a name re-appears within ceil(N / S) driver
    rounds of its last green row — the information-theoretic floor
    (5 rounds at N=201, S=50; ≤4 whenever N <= 4S) (r10 VERDICT ask
    #6; pinned by ``test_rotation_staleness_bound`` and recorded in
    COVERAGE.md).
    Computed from the files actually on disk at call time, so it can
    never go stale (VERDICT r8 ask #1: the hand-maintained literal was
    guaranteed red at every judging point)."""
    green = _green_latest_round(correctness_dir)
    out = {k: v for k, v in reg.items() if k not in green}
    # sorted() is stable and the comprehension iterates reg in insertion
    # order, so equal-round names keep their insertion order
    for k in sorted((k for k in reg if k in green), key=lambda k: green[k]):
        out[k] = reg[k]
    return out


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _priority_ordered(QUERIES)


def oracle_sql() -> dict[str, str]:
    return _priority_ordered(ORACLES)


"""Query API — the reference's HTTP surface (H1-H9) as plain functions.

Reference routes (``audit_utils/http_endpoint.py``): ``/a/<table>``
select-all, ``/c/<sql>`` arbitrary SQL, ``/cs/<sql>`` select (+ optional
Avro encode), ``/r`` reset, ``/rst`` batch counter, ``/rv/<n>`` recent
batches, ``/dv/<i>`` one batch, ``/sr/<param>/<start>:<end>`` range
filter, ``/c/<json>/EOE`` per-field comparator filter.

Each handler here returns list-of-dicts exactly like the reference's
Flask-RESTful JSON responses (models.py:181-187). The HTTP transport
lives in ``streaming/http.py`` (stdlib ThreadingHTTPServer — no Flask
dependency) with the reference's exact route scheme.

Freshness model: the stream's ``foreachBatch`` updates the store as data
arrives; queries see every committed batch — no request-time queue drain
(the reference only ingested pending data when an HTTP request happened
to arrive, http_endpoint.py:54-55).
"""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql import DataFrame

from ..functions import predicates as P
from .serving import ServingStore, reject_foreign_reads


# Driver-OOM guard for the collecting endpoints: the reference fetchall'd
# from SQLite (models.py:181-187) where "the whole table" was retention-
# bounded and process-local; here an unbounded /a/<table> or /c/<sql>
# against a large store would materialize on the Spark driver. Every
# handler caps its collect at MAX_ROWS_DEFAULT unless the caller passes
# an explicit ``max_rows`` (``-1`` = unlimited, the reference-compat
# escape hatch). A truncated result is returned as :class:`TruncatedRows`
# (still a plain JSON list on the wire; the HTTP layer signals the cut
# with an ``X-Truncated: true`` response header so the reference's
# list-of-rows body shape is preserved).
MAX_ROWS_DEFAULT = 10_000


class TruncatedRows(list):
    """A row list that was cut at the ``max_rows`` cap."""

    truncated = True


def _rows(df: DataFrame, max_rows: int | None = None) -> list[dict[str, Any]]:
    cap = MAX_ROWS_DEFAULT if max_rows is None else max_rows
    if cap is None or cap < 0:
        return [r.asDict(recursive=True) for r in df.collect()]
    # limit(cap + 1) keeps the scan bounded executor-side (Spark stops
    # producing past the limit) while still detecting the overflow
    rows = df.limit(cap + 1).collect()
    out = [r.asDict(recursive=True) for r in rows[:cap]]
    return TruncatedRows(out) if len(rows) > cap else out


def select_all(
    store: ServingStore, table: str = "*", max_rows: int | None = None
) -> list[dict]:
    """H1: ``GET /a/<table>`` — '*' means the default serving table
    (http_endpoint.py:69-76); any other name resolves through
    ``spark.table`` under the same check as ``/c``
    (:func:`~.serving.reject_foreign_reads`)."""
    if table in ("*", store.table_name):
        return _rows(store.select_all(), max_rows)
    return _rows(reject_foreign_reads(store.spark.table(table), store.path), max_rows)


def custom_sql(store: ServingStore, sql: str, max_rows: int | None = None) -> list[dict]:
    """H2/H3: ``GET /c/<sql>`` — arbitrary SQL via Spark SQL
    (http_endpoint.py:88-92)."""
    return _rows(store.run_cmd(sql), max_rows)


def reset(store: ServingStore) -> dict:
    """H4: ``GET /r`` — wipe serving state (http_endpoint.py:94-98)."""
    store.reset()
    return {"reset": True}


def rst(store: ServingStore) -> dict:
    """H5: ``GET /rst`` — current batch counter (http_endpoint.py:100-104)."""
    return {"rst_id": store.rst()}


def recent_values(
    store: ServingStore, n: int, max_rows: int | None = None
) -> list[dict]:
    """H6: ``GET /rv/<n>`` — n most recent batches (http_endpoint.py:170-176)."""
    return _rows(store.recent(n), max_rows)


def direct_value(
    store: ServingStore, batch_id: int, max_rows: int | None = None
) -> list[dict]:
    """H7: ``GET /dv/<i>`` — one batch by id (http_endpoint.py:178-184)."""
    return _rows(store.batch(batch_id), max_rows)


def select_range(
    store: ServingStore, param: str, start, end, max_rows: int | None = None
) -> list[dict]:
    """H8: ``GET /sr/<param>/<start>:<end>`` — 'None' = unbounded side
    (http_endpoint.py:186-200)."""
    lo = None if start in (None, "None") else start
    hi = None if end in (None, "None") else end
    spec = {param: ("range", (lo, hi))}
    return _rows(
        P.select_range(store.view_where(spec), {param: (lo, hi)}), max_rows
    )


def custom_sql_avro(store: ServingStore, sql: str, avro_schema_json: str):
    """H3: ``GET /cs/<sql>`` with Avro-encoded response rows
    (http_endpoint.py:78-86 + dict_to_avro utils.py:276-304).

    Returns a DataFrame with one binary ``avro`` column. Uses spark-avro's
    ``to_avro`` when the external module is on the classpath, else the
    pure-Python Avro codec (``functions/avro_lite.py``) — same bytes.
    """
    from pyspark.sql import functions as F

    df = store.run_cmd(sql)
    # only a missing spark-avro jar falls back (see sources/kafka.py
    # avro_values for the error-class rationale)
    try:
        from pyspark.sql.avro.functions import to_avro

        return df.select(to_avro(F.struct(*df.columns), avro_schema_json).alias("avro"))
    except (ImportError, TypeError):
        pass
    except Exception as exc:
        if "AVRO_NOT_LOADED" not in str(exc):
            raise
    from ..functions.avro_lite import avro_encode_df

    return avro_encode_df(df, avro_schema_json)


def delete(store: ServingStore, conditions: dict) -> dict:
    """Q3 surface: DELETE with ANDed equality predicates."""
    return {"deleted": store.delete(conditions)}


def custom_select(
    store: ServingStore, cdict: str | dict, max_rows: int | None = None
) -> list[dict]:
    """H9: ``GET /c/<json_cdict>/EOE`` — per-field comparator filter from a
    JSON spec; parse failure -> empty result (http_endpoint.py:210-212)."""
    try:
        params = json.loads(cdict) if isinstance(cdict, str) else cdict
        parsed = {k: (v[0], v[1]) for k, v in params.items()}
    except (ValueError, TypeError, IndexError, KeyError):
        return []
    return _rows(P.c_general_select(store.view_where(parsed), parsed), max_rows)

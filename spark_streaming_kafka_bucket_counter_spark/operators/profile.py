"""Dataset profiling and snapshot comparison: the data-quality /
pipeline-observability operators that run beside the analytics engine —
column profiles, key-skew reports, and snapshot diffs.

At 100 TB these are maintenance scans, and their plans are shaped
accordingly:

- ``profile_columns`` is ONE aggregation pass; the exact per-column
  distinct counts make Catalyst plan an expand (one shuffle per
  distinct column) with map-side partials — the cost of exactness.
  ``exact=False`` swaps in ``approx_count_distinct`` (HLL, single
  shuffle, ~2% error) for the cluster-scale daily profile; the exact
  mode is what an oracle can replay.
- ``key_share_topk`` is a partial-agg count + a 1-row broadcast total +
  ``TakeOrderedAndProject`` (per-partition heaps) — never a global sort.
  This is also the skew DIAGNOSTIC: the report that tells you which
  keys need salting / AQE skew-split in downstream joins.
- ``snapshot_diff`` is one full-outer hash join on the key.

Shares are parts-per-million BIGINTs (exact integer arithmetic), never
floats.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def profile_columns(
    df: DataFrame, cols: list[str], exact: bool = True
) -> DataFrame:
    """Per-column profile: ``(col_name, n_rows, n_nonnull, n_distinct,
    min_value, max_value)`` — one row per profiled column, min/max
    rendered as strings so heterogeneous column types stack into one
    result. Stick to integer/string columns when an exact cross-engine
    string form matters (float formatting differs between engines)."""
    distinct = (
        (lambda c: F.count_distinct(F.col(c)))
        if exact
        else (lambda c: F.approx_count_distinct(c))
    )
    aggs: list = [F.count(F.lit(1)).alias("_n_rows")]
    for c in cols:
        aggs += [
            F.count(F.col(c)).alias(f"_nn_{c}"),
            distinct(c).alias(f"_nd_{c}"),
            F.min(F.col(c)).cast("string").alias(f"_min_{c}"),
            F.max(F.col(c)).cast("string").alias(f"_max_{c}"),
        ]
    from ..sources.files import fan_out_scan

    # N exact count_distincts plan an Expand of (N+1)x input rows in the
    # scan stage — fan the projected input out so the expansion and the
    # partial aggregation parallelize on small inputs (r12; no-op at
    # scale). Hash on ALL projected columns: profiled columns are often
    # low-cardinality or null-heavy, so cols[0] alone could collapse the
    # fan-out into <= distinct-value partitions (ADVICE r12 #4).
    one = fan_out_scan(df.select(*cols), list(cols)).agg(*aggs)
    stacked = ", ".join(
        f"'{c}', _n_rows, _nn_{c}, _nd_{c}, _min_{c}, _max_{c}" for c in cols
    )
    return one.selectExpr(
        f"stack({len(cols)}, {stacked}) AS "
        "(col_name, n_rows, n_nonnull, n_distinct, min_value, max_value)"
    )


def profile_columns_sql(table: str, cols: list[str]) -> str:
    """DuckDB twin of :func:`profile_columns` (exact mode)."""
    parts = [
        f"""SELECT '{c}' AS col_name,
               COUNT(*) AS n_rows,
               COUNT({c}) AS n_nonnull,
               COUNT(DISTINCT {c}) AS n_distinct,
               CAST(MIN({c}) AS VARCHAR) AS min_value,
               CAST(MAX({c}) AS VARCHAR) AS max_value
        FROM {table}"""
        for c in cols
    ]
    return " UNION ALL ".join(parts)


def key_share_topk(df: DataFrame, key_col: str, k: int = 20) -> DataFrame:
    """Top-k keys by row count with exact ppm share of the table:
    ``(key, n_rows, share_ppm)``, ordered by count desc with the key as
    tie-break (total order — required for a stable LIMIT)."""
    counts = df.groupBy(key_col).agg(F.count(F.lit(1)).alias("n_rows"))
    total = df.agg(F.count(F.lit(1)).alias("_total"))
    return (
        counts.join(F.broadcast(total))
        .select(
            F.col(key_col),
            F.col("n_rows"),
            F.floor(F.col("n_rows") * 1000000 / F.col("_total"))
            .cast("long")
            .alias("share_ppm"),
        )
        .orderBy(F.col("n_rows").desc(), F.col(key_col))
        .limit(k)
    )


def key_share_topk_sql(table: str, key_col: str, k: int = 20) -> str:
    """DuckDB twin of :func:`key_share_topk`."""
    return f"""
    SELECT {key_col},
           COUNT(*) AS n_rows,
           CAST(COUNT(*) * 1000000 // (SELECT COUNT(*) FROM {table}) AS BIGINT)
             AS share_ppm
    FROM {table}
    GROUP BY 1
    ORDER BY n_rows DESC, {key_col}
    LIMIT {k}
    """


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    val_cols: list[str],
) -> DataFrame:
    """Row-level diff of two snapshots keyed by ``key_cols``: one row
    per key present in either side with ``status`` in
    ``added | removed | changed | unchanged`` plus the old/new values.
    Value comparison is null-safe (NULL == NULL counts as unchanged)."""
    o = old.select(
        *[F.col(c) for c in key_cols],
        *[F.col(c).alias(f"old_{c}") for c in val_cols],
        F.lit(1).alias("_in_old"),
    )
    n = new.select(
        *[F.col(c) for c in key_cols],
        *[F.col(c).alias(f"new_{c}") for c in val_cols],
        F.lit(1).alias("_in_new"),
    )
    joined = o.join(n, key_cols, "full_outer")
    same = F.lit(True)
    for c in val_cols:
        same = same & F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}"))
    status = (
        F.when(F.col("_in_old").isNull(), F.lit("added"))
        .when(F.col("_in_new").isNull(), F.lit("removed"))
        .when(same, F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return joined.select(
        *[F.col(c) for c in key_cols],
        status.alias("status"),
        *[F.col(f"old_{c}") for c in val_cols],
        *[F.col(f"new_{c}") for c in val_cols],
    )


def snapshot_diff_sql(
    old_query: str,
    new_query: str,
    key_cols: list[str],
    val_cols: list[str],
) -> str:
    """DuckDB twin of :func:`snapshot_diff`; ``old_query`` / ``new_query``
    are subqueries producing the two snapshots."""
    keys = ", ".join(f"COALESCE(o.{c}, n.{c}) AS {c}" for c in key_cols)
    on = " AND ".join(f"o.{c} = n.{c}" for c in key_cols)
    same = " AND ".join(
        f"(o.{c} IS NOT DISTINCT FROM n.{c})" for c in val_cols
    )
    old_vals = ", ".join(f"o.{c} AS old_{c}" for c in val_cols)
    new_vals = ", ".join(f"n.{c} AS new_{c}" for c in val_cols)
    return f"""
    SELECT {keys},
           CASE WHEN o._in_old IS NULL THEN 'added'
                WHEN n._in_new IS NULL THEN 'removed'
                WHEN {same} THEN 'unchanged'
                ELSE 'changed' END AS status,
           {old_vals}, {new_vals}
    FROM (SELECT *, 1 AS _in_old FROM ({old_query})) o
    FULL OUTER JOIN (SELECT *, 1 AS _in_new FROM ({new_query})) n ON {on}
    """


def table_checksum(
    df: DataFrame, exprs: dict[str, "F.Column"], mod: int = 1 << 31
) -> DataFrame:
    """Order-independent content checksum of a table: one row
    ``(n_rows, checksum)`` where checksum = SUM over rows of a 32-bit
    md5-derived row hash, reduced mod ``mod`` — the cheap drift/parity
    primitive (same table, two engines or two days: equal checksums
    ⇒ near-certainly identical content, order and layout ignored).

    ``exprs`` maps column names to CANONICAL columns (exact types only:
    ints, strings, dates — floats must be fixed-pointed by the caller;
    their string forms differ between engines). NULLs are folded to a
    sentinel inside the row rendering, so a NULL and the literal string
    differ.

    Exactness at any scale: per-row hashes are summed as DECIMAL(38,0)
    (a BIGINT sum would overflow past ~2^31 rows) and reduced mod once
    at the end — commutative, partition-order-free, one aggregation
    pass with map-side partials.
    """
    rendered = F.concat_ws(
        "|", *[F.coalesce(c.cast("string"), F.lit("\x00null")) for c in exprs.values()]
    )
    h = F.conv(F.substring(F.md5(rendered), 1, 8), 16, 10).cast("long")
    return df.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        (F.sum(h.cast("decimal(38,0)")) % F.lit(mod)).cast("long").alias("checksum"),
    )


def table_checksum_sql(table: str, exprs: dict[str, str], mod: int = 1 << 31) -> str:
    """DuckDB twin of :func:`table_checksum` (same rendering, same hash
    recipe, same HUGEINT-then-mod reduction)."""
    rendered = " || '|' || ".join(
        f"COALESCE(CAST({e} AS VARCHAR), chr(0) || 'null')" for e in exprs.values()
    )
    h = f"CAST('0x' || substr(md5({rendered}), 1, 8) AS BIGINT)"
    return f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST({h} AS HUGEINT)) % {mod} AS BIGINT) AS checksum
    FROM {table}
    """

"""Deterministic sampling / split assignment for training-data pipelines.

Beyond-reference scope (BASELINE.json north star). ``df.sample`` is
seed-AND-partitioning dependent — re-running after a repartition yields a
different sample, which is unacceptable for train/eval splits over 100 TB
(splits must be reproducible, auditable, and stable when the table is
rewritten). The standard fix is content-hash bucketing: bucket =
hash(salt || id) mod B, sample = buckets below the rate. Properties:

- deterministic: same id + salt -> same bucket, on any engine (md5-based,
  so the DuckDB oracles reproduce it exactly)
- partition-independent: pure per-row projection, no shuffle, trivially
  parallel at any scale; the filter pushes down past column pruning
- composable: different salts give independent samples; the same salt
  gives consistent membership across tables keyed by the same id
  (e.g. join-safe document/embedding splits)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import token_hash32, token_hash32_sql


def hash_bucket(col: Column, buckets: int = 100, salt: str = "split") -> Column:
    """Stable bucket in [0, buckets) from the md5 of ``salt || ':' || id``."""
    return token_hash32(F.concat(F.lit(f"{salt}:"), col.cast("string"))) % buckets


def hash_bucket_sql(col: str, buckets: int = 100, salt: str = "split") -> str:
    inner = f"'{salt}:' || CAST({col} AS VARCHAR)"
    return f"({token_hash32_sql(inner)} % {buckets})"


def with_split(
    df: DataFrame,
    id_col: str,
    train_pct: int = 90,
    buckets: int = 100,
    salt: str = "split",
) -> DataFrame:
    """Append ``bucket`` and a train/eval ``split`` label."""
    b = hash_bucket(F.col(id_col), buckets, salt)
    return df.withColumn("bucket", b).withColumn(
        "split", F.when(F.col("bucket") < train_pct, F.lit("train")).otherwise(F.lit("eval"))
    )


def stratified_sample(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    rates: dict[str, int],
    default_pct: int = 0,
    buckets: int = 100,
    salt: str = "strat",
) -> DataFrame:
    """Per-stratum deterministic sampling (e.g. language rebalancing:
    keep 10% of English, 100% of low-resource languages).

    One projection + one filter — no shuffle, no per-stratum pass; the
    rate lookup compiles to a CASE over the stratum column.
    """
    rate = F.lit(default_pct)
    for value, pct in sorted(rates.items()):
        rate = F.when(F.col(strata_col) == value, F.lit(pct)).otherwise(rate)
    return df.filter(hash_bucket(F.col(id_col), buckets, salt) < rate)


def topn_per_group(
    df: DataFrame,
    id_col: str,
    group_col: str,
    n: int,
    salt: str = "topn",
) -> DataFrame:
    """Deterministic cap of N rows per group (e.g. "at most 10k documents
    per source domain"): rank rows inside each group by their content
    hash (ties broken by id) and keep ranks <= N. Appends ``rk``.

    Unlike a rate, a cap bounds the *absolute* contribution of any one
    group — the anti-domination rule for scraped corpora where one domain
    is 100x the median. One shuffle on the group column; rank is a single
    window pass over each group's partition. The hash order makes the
    kept subset stable under table rewrites and engine changes (same
    md5 recipe as the split/sample operators).
    """
    from pyspark.sql import Window

    order = hash_bucket(F.col(id_col), 2**31, salt)
    w = Window.partitionBy(group_col).orderBy(order, F.col(id_col))
    return df.withColumn("rk", F.row_number().over(w).cast("long")).filter(
        F.col("rk") <= n
    )


def topn_per_group_sql(
    table: str,
    id_col: str,
    group_col: str,
    n: int,
    salt: str = "topn",
    cols: str = "*",
) -> str:
    """DuckDB oracle twin (same hash order, same tie-break)."""
    order = hash_bucket_sql(id_col, 2**31, salt)
    return f"""
    SELECT {cols}, CAST(row_number() OVER (
             PARTITION BY {group_col} ORDER BY {order}, {id_col}) AS BIGINT) AS rk
    FROM {table}
    QUALIFY rk <= {n}
    """


def token_mixture_sample(
    df: DataFrame,
    id_col: str,
    group_col: str,
    n_tokens_col: str,
    target_shares: dict[str, float],
    buckets: int = 10_000,
    salt: str = "mix",
) -> DataFrame:
    """Downsample groups so the surviving corpus hits a target TOKEN
    mixture (the pretraining data-mixture op: "50% en / 30% fr / 20% zh
    of the final token budget").

    Construction: the limiting group sets the final size
    (``final_total = min_g totals_g / share_g`` — that group is kept
    whole), every other group's keep-rate is
    ``share_g * final_total / totals_g``, and membership is the usual
    deterministic hash-bucket threshold (doc-level sampling approximates
    the token share; exact for iid doc lengths). Thresholds are CEILed
    so the limiting group's float-error keep-ratio (1.0 - epsilon)
    still keeps every bucket; other groups overshoot by < 1/buckets.

    Scale shape: one groupBy for the totals (group-cardinality rows),
    scalar min via a 1-row broadcast, rates broadcast back onto the
    corpus — the corpus itself is touched by exactly one projection +
    filter, no corpus shuffle. Rounding: thresholds are floored to
    integer buckets with an explicitly parenthesized expression so the
    DuckDB oracle computes bit-identical doubles.
    """
    spark = df.sparkSession
    shares = spark.createDataFrame(
        sorted(target_shares.items()), f"{group_col} string, _share double"
    )
    totals = df.groupBy(group_col).agg(F.sum(n_tokens_col).alias("_total"))
    sized = totals.join(F.broadcast(shares), group_col)
    final_total = sized.agg(F.min(F.col("_total") / F.col("_share")).alias("_ft"))
    # CEIL, not floor: the limiting group's keep-ratio is 1.0 only up to
    # float error (share * (total/share) / total) — a floor would drop
    # its top hash bucket and break the "kept whole" guarantee; ceil
    # overshoots other groups by at most one bucket (1/buckets)
    thresholds = sized.crossJoin(F.broadcast(final_total)).select(
        group_col,
        F.ceil(
            F.lit(buckets) * ((F.col("_share") * F.col("_ft")) / F.col("_total"))
        ).alias("_thr"),
    )
    return df.join(F.broadcast(thresholds), group_col).filter(
        hash_bucket(F.col(id_col), buckets, salt) < F.col("_thr")
    ).drop("_thr")


def token_mixture_sample_sql(
    table: str,
    id_col: str,
    group_col: str,
    n_tokens_expr: str,
    target_shares: dict[str, float],
    buckets: int = 10_000,
    salt: str = "mix",
) -> str:
    """DuckDB oracle twin (same hash, same parenthesization)."""
    shares_rows = ", ".join(
        f"('{g}', {s})" for g, s in sorted(target_shares.items())
    )
    bucket = hash_bucket_sql(id_col, buckets, salt)
    return f"""
    WITH src AS (SELECT *, {n_tokens_expr} AS _ntok FROM {table}),
    shares({group_col}, _share) AS (VALUES {shares_rows}),
    totals AS (SELECT {group_col}, SUM(_ntok) AS _total FROM src GROUP BY 1),
    sized AS (SELECT t.{group_col}, _total, _share
              FROM totals t JOIN shares USING ({group_col})),
    ft AS (SELECT MIN(_total / _share) AS _ft FROM sized),
    thr AS (SELECT {group_col},
                   CEIL({buckets} * ((_share * _ft) / _total)) AS _thr
            FROM sized CROSS JOIN ft)
    SELECT src.{id_col}, src.{group_col}, CAST(src._ntok AS BIGINT) AS n_tokens
    FROM src JOIN thr USING ({group_col})
    WHERE {bucket} < _thr
    """


def weighted_sample_topk(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
    salt: str = "wsample",
) -> DataFrame:
    """Deterministic weighted sample of ``k`` rows: bottom-k by
    ``hash // weight`` priority — rows with larger integer weights get
    proportionally smaller priorities and are selected more often, and
    the same (id, weight, salt) always selects the same set on any
    engine (md5-derived hash, pure integer division).

    This is the bottom-k/priority-sampling family with a determinism
    twist: replacing the uniform random draw with the content hash makes
    the sample reproducible AND mergeable (the bottom-k of a union is
    the bottom-k of each side's bottom-k — so distributed top-k heaps
    compute it with no global sort). ``weight_col`` must be a positive
    integer column; zero/negative/NULL weights are excluded.

    Output: ``id, weight, priority`` for the k selected rows.
    """
    pri = hash_bucket(F.col(id_col), 2**31, salt).cast("long")
    return (
        df.select(
            F.col(id_col),
            F.col(weight_col).cast("long").alias("weight"),
            pri.alias("_h"),
        )
        .filter(F.col("weight") > 0)
        # SQL `div` = true BIGINT division, identical to DuckDB's `//`
        .withColumn("priority", F.expr("_h div weight"))
        .drop("_h")
        .orderBy("priority", F.col(id_col))
        .limit(k)
    )


def weighted_sample_topk_sql(
    table: str,
    id_col: str,
    weight_expr: str,
    k: int,
    salt: str = "wsample",
) -> str:
    """DuckDB oracle twin of :func:`weighted_sample_topk`."""
    pri = hash_bucket_sql(id_col, 2**31, salt)
    return f"""
    SELECT {id_col},
           CAST({weight_expr} AS BIGINT) AS weight,
           CAST({pri} // ({weight_expr}) AS BIGINT) AS priority
    FROM {table}
    WHERE ({weight_expr}) > 0
    ORDER BY priority, {id_col}
    LIMIT {k}
    """


def sample_negatives(
    df: DataFrame,
    id_col: str,
    k: int = 4,
    buckets: int = 32,
    salt: str = "negs",
) -> DataFrame:
    """Deterministic negative sampling for contrastive training: each
    anchor row gets ``k`` pseudo-random partners drawn from the NEXT
    hash bucket — reproducible across engines/reruns (md5-derived), and
    never self-pairing (partners come from a different bucket).

    Shape: one window ranking the first ``k`` rows per bucket (tiny
    state), then a hash join of anchors to their neighbor bucket's
    top-k — join key cardinality = ``buckets``, so size ``buckets``
    ~ corpus/10^3 at scale to keep per-key fan-in bounded. Compose with
    an anti-join of near-dup pairs when negatives must also be
    semantically distant.

    Requires ``buckets >= 2`` (with one bucket the "next" bucket is the
    anchor's own — self-pairing). Caveat: an anchor whose successor
    bucket holds no rows gets zero negatives (inner join); with
    ``buckets`` sized well below the corpus row count every bucket is
    non-empty with overwhelming probability, but don't set ``buckets``
    near/above the row count if every anchor must be covered.

    Output: (anchor id, negative_id, neg_rank 1..k).
    """
    from pyspark.sql import Window

    if buckets < 2:
        raise ValueError(
            "sample_negatives needs buckets >= 2: with a single bucket the "
            "neighbor bucket is the anchor's own, so anchors would pair "
            "with themselves"
        )
    h = hash_bucket(F.col(id_col), 2**31, salt)
    tagged = df.select(F.col(id_col), (h % buckets).alias("_b"), h.alias("_h"))
    w = Window.partitionBy("_b").orderBy("_h", id_col)
    pool = (
        tagged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select(
            F.col("_b").alias("_pb"),
            F.col(id_col).alias("negative_id"),
            F.col("_rn").cast("long").alias("neg_rank"),
        )
    )
    anchors = tagged.select(
        F.col(id_col), ((F.col("_b") + 1) % buckets).alias("_pb")
    )
    return anchors.join(pool, "_pb").select(id_col, "negative_id", "neg_rank")


def sample_negatives_sql(
    table: str,
    id_col: str,
    k: int = 4,
    buckets: int = 32,
    salt: str = "negs",
) -> str:
    """DuckDB oracle twin of :func:`sample_negatives`."""
    h = hash_bucket_sql(id_col, 2**31, salt)
    return f"""
    WITH _ng_t AS (SELECT {id_col}, {h} % {buckets} AS b, {h} AS h FROM {table}),
    _ng_pool AS (
      SELECT b AS pb, {id_col} AS negative_id,
             CAST(row_number() OVER (PARTITION BY b ORDER BY h, {id_col}) AS BIGINT) AS neg_rank
      FROM _ng_t QUALIFY neg_rank <= {k}
    )
    SELECT a.{id_col}, p.negative_id, p.neg_rank
    FROM (SELECT {id_col}, (b + 1) % {buckets} AS pb FROM _ng_t) a
    JOIN _ng_pool p USING (pb)
    """

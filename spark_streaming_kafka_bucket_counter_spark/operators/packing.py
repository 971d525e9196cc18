"""Sequence packing: assign documents to fixed token-budget training
sequences — the step between curation and the data loader (greedy
concat-and-chunk, the standard packing recipe for LLM pretraining).

Construction: documents are hashed into shards (so packing parallelizes
— each shard packs independently and DETERMINISTICALLY, independent of
partition layout), ordered by id within the shard, and the running token
cumsum places each document: ``offset`` is the document's first token
position in the shard's concatenated stream, ``pack_id = offset //
budget`` the training sequence that position lands in (documents may
straddle a boundary — the loader splits them, as concat-and-chunk does).

Scale shape: ONE shuffle (hash partition by shard) + one window pass;
shard count is the parallelism knob. No collect, no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .sampling import hash_bucket, hash_bucket_sql


def pack_documents(
    df: DataFrame,
    id_col: str,
    n_tokens_col: str,
    budget: int,
    n_shards: int = 16,
    salt: str = "pack",
) -> DataFrame:
    """(doc, shard, n_tokens, offset, pack_id) under greedy
    concat-and-chunk packing into ``budget``-token sequences per shard."""
    shard = hash_bucket(F.col(id_col), n_shards, salt)
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    base = df.select(
        F.col(id_col), F.col(n_tokens_col).alias("n_tokens"), shard.alias("shard")
    )
    return (
        base.withColumn("_cum", F.sum("n_tokens").over(w))
        .select(
            id_col,
            "shard",
            "n_tokens",
            (F.col("_cum") - F.col("n_tokens")).cast("long").alias("offset"),
            # integer division (DIV) — a double floor() would lose
            # exactness once shard cumsums pass 2^53 tokens
            F.expr(f"(_cum - n_tokens) DIV {budget}").cast("long").alias("pack_id"),
        )
    )


def tokens_to_ids(
    df: DataFrame,
    id_col: str,
    text_col: str,
    vocab_size: int = 1024,
    oov_id: int = 0,
) -> DataFrame:
    """Map each document's token sequence to integer ids against a
    corpus-derived vocabulary — the tokenize-to-ids step between vocab
    construction and sequence packing.

    Vocabulary: the top ``vocab_size`` tokens by total corpus count
    (ties broken by token text for cross-engine determinism), assigned
    ids 1..vocab_size in that order; everything else maps to ``oov_id``
    (0 by default, reserved). Documents with zero tokens produce no row.

    Scale shape: the vocab is top-k'd with orderBy+limit (Spark plans
    TakeOrderedAndProject — distributed partial top-k, never a global
    sort of the distinct-token table) and is ``vocab_size``-bounded, so
    the token->id join is a broadcast; sequence order is restored with
    one doc-key shuffle (array_sort over collected (pos, id) structs).
    No Python in the plan.

    Output: (id, token_ids array<long>, n_tokens, n_oov).
    """
    from ..functions.text import tokens

    tok = df.select(
        F.col(id_col), F.posexplode(tokens(F.col(text_col))).alias("pos", "token")
    )
    counts = tok.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    top = counts.orderBy(F.col("cnt").desc(), "token").limit(vocab_size)
    w = Window.orderBy(F.col("cnt").desc(), "token")  # bounded: vocab_size rows
    vocab = top.withColumn("tid", F.row_number().over(w).cast("long")).select(
        "token", "tid"
    )
    mapped = tok.join(F.broadcast(vocab), "token", "left").select(
        F.col(id_col),
        "pos",
        F.coalesce(F.col("tid"), F.lit(int(oov_id))).cast("long").alias("tid"),
    )
    return mapped.groupBy(id_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "tid"))), lambda s: s["tid"]
        ).alias("token_ids"),
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("tid") == int(oov_id), 1).otherwise(0))
        .cast("long")
        .alias("n_oov"),
    )


def tokens_to_ids_sql(
    table: str,
    id_col: str,
    text_col: str,
    vocab_size: int = 1024,
    oov_id: int = 0,
) -> str:
    """DuckDB oracle twin of :func:`tokens_to_ids` (same top-k vocab,
    same tie-break, same OOV mapping, order-preserving list agg)."""
    from ..functions.text import tokens_sql

    t = tokens_sql(text_col)
    return f"""
    WITH _ti_tok AS (SELECT {id_col}, {t} AS t FROM {table}),
    _ti_pos AS (SELECT {id_col}, i AS pos, t[CAST(i AS INT)] AS token
                FROM _ti_tok, LATERAL (SELECT unnest(generate_series(1, len(t))) AS i) _i),
    _ti_cnt AS (SELECT token, COUNT(*) AS cnt FROM _ti_pos GROUP BY 1),
    _ti_vocab AS (SELECT token,
                         CAST(row_number() OVER (ORDER BY cnt DESC, token) AS BIGINT) AS tid
                  FROM (SELECT * FROM _ti_cnt ORDER BY cnt DESC, token LIMIT {vocab_size})),
    _ti_map AS (SELECT p.{id_col}, p.pos, COALESCE(v.tid, {oov_id}) AS tid
                FROM _ti_pos p LEFT JOIN _ti_vocab v USING (token))
    SELECT {id_col},
           list(tid ORDER BY pos) AS token_ids,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN tid = {oov_id} THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
    FROM _ti_map GROUP BY {id_col}
    """


def pack_documents_sql(
    table: str,
    id_col: str,
    n_tokens_expr: str,
    budget: int,
    n_shards: int = 16,
    salt: str = "pack",
) -> str:
    """DuckDB oracle twin (same hash shards, same window order)."""
    shard = hash_bucket_sql(id_col, n_shards, salt)
    return f"""
    WITH base AS (
      SELECT {id_col}, {n_tokens_expr} AS n_tokens, {shard} AS shard FROM {table}
    ),
    packed AS (
      SELECT {id_col}, shard, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY shard ORDER BY {id_col}
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM base
    )
    SELECT {id_col}, shard, n_tokens,
           CAST(cum - n_tokens AS BIGINT) AS offset,
           CAST((cum - n_tokens) // {budget} AS BIGINT) AS pack_id
    FROM packed
    """


# ---------------------------------------------------------------------------
# Document chunking (fixed token windows with overlap)
# ---------------------------------------------------------------------------


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_tokens: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Split each document into overlapping fixed-token-window chunks —
    the RAG/pretraining chunker: ``(id, chunk_idx, n_tokens,
    chunk_text)``, one row per chunk.

    Chunk starts step by ``chunk_tokens - overlap``; every start < the
    document's token count emits a chunk (the final one may be short).
    Zero-token documents emit no chunks.

    Scale shape: pure per-row array expressions (tokenize once, shifted
    ``slice`` windows, one ``posexplode``) — NO shuffle, codegen'd,
    embarrassingly parallel; output row count is input tokens /
    step. The same construction as ``shingles()`` but with stride.
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("require 0 <= overlap < chunk_tokens")
    step = chunk_tokens - overlap
    from ..functions.text import tokens

    tok = tokens(F.col(text_col))
    base = df.select(F.col(id_col), tok.alias("_tok")).withColumn(
        "_n", F.size("_tok")
    )
    starts = F.when(
        F.col("_n") > 0, F.sequence(F.lit(0), F.col("_n") - 1, F.lit(step))
    ).otherwise(F.array().cast("array<int>"))
    chunks = base.select(
        F.col(id_col),
        F.posexplode(
            F.transform(starts, lambda s: F.slice("_tok", s + 1, chunk_tokens))
        ).alias("chunk_idx", "_chunk"),
    )
    return chunks.select(
        F.col(id_col),
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.size("_chunk").cast("long").alias("n_tokens"),
        F.array_join("_chunk", " ").alias("chunk_text"),
    )


def chunk_documents_sql(
    table: str,
    id_col: str,
    text_col: str,
    chunk_tokens: int = 64,
    overlap: int = 16,
) -> str:
    """DuckDB twin: same stride/slice recipe (1-based inclusive
    ``list_slice`` bounds mirror Spark's ``slice(start, length)``)."""
    from ..functions.text import tokens_sql

    step = chunk_tokens - overlap
    tok = tokens_sql(text_col)
    return f"""
    SELECT {id_col},
           CAST(s // {step} AS BIGINT) AS chunk_idx,
           CAST(len(list_slice(_tok, s + 1, s + {chunk_tokens})) AS BIGINT) AS n_tokens,
           array_to_string(list_slice(_tok, s + 1, s + {chunk_tokens}), ' ') AS chunk_text
    FROM (SELECT {id_col}, {tok} AS _tok FROM {table}),
         LATERAL (SELECT unnest(range(0, greatest(len(_tok), 0), {step})) AS s) st
    """

"""Lexical search scoring: BM25 top-k over the corpus for a fixed query
term set — the retrieval primitive next to the embedding ANN operators
(hybrid search = this + ``sim_*``).

Scale shape: the corpus pays ONE tokenize projection; the explode is
filtered to the query terms *before* any shuffle (predicate on the
exploded token — Catalyst pushes it into the generate), so the shuffled
volume is only rows containing query terms. Document length (dl) rides
the same projection; corpus-level stats (N, sum dl) and per-term doc
frequencies are 1-row / |terms|-row broadcasts. Final ranking is one
window over the matched-doc set.

Cross-engine determinism (the repo's standard recipe): each (doc, term)
BM25 contribution is fixed-pointed to nano-units (``ROUND(w * 1e9)`` as
BIGINT) so the per-doc sum is an exact integer — no accumulation-order
noise; ranking ties break on the integer score then doc id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import tokens, tokens_sql
from ._cache import persist, scoped


@scoped
def bm25_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 20,
) -> DataFrame:
    """Top-``top_k`` documents for ``query_terms`` under BM25
    (Robertson always-positive idf: ``ln((N - df + .5)/(df + .5) + 1)``):
    ``(id, score, rank)``; only documents matching >= 1 term rank.
    """
    from ..sources.files import fan_out_scan

    terms = sorted({t.lower() for t in query_terms})
    # tokenize is scan-stage work that otherwise runs single-task on
    # small inputs (r13; fan_out_scan is a no-op at scale)
    base = fan_out_scan(df.select(F.col(id_col), F.col(text_col)), id_col)
    docs = base.select(F.col(id_col), tokens(F.col(text_col)).alias("_tok")).select(
        F.col(id_col), F.col("_tok"), F.size("_tok").alias("_dl")
    )
    stats = docs.agg(
        F.count(F.lit(1)).alias("_N"), F.sum("_dl").alias("_sumdl")
    )
    # consumed twice (dfreq + scored) — each consumer re-ran the whole
    # corpus tokenize+explode leg; materialize the tiny matched-docs
    # aggregate once (r13, guide §5; ungated — see the _cache module
    # docstring)
    tf = persist(
        docs.select(F.col(id_col), "_dl", F.explode("_tok").alias("_t"))
        .filter(F.col("_t").isin(terms))
        .groupBy(id_col, "_dl", "_t")
        .agg(F.count(F.lit(1)).alias("_tf"))
    )
    dfreq = tf.groupBy("_t").agg(F.count(F.lit(1)).alias("_df"))
    idf = F.log(
        (F.col("_N") - F.col("_df") + 0.5) / (F.col("_df") + 0.5) + 1.0
    )
    avgdl = F.col("_sumdl").cast("double") / F.col("_N")
    w = (
        idf
        * (F.col("_tf") * (k1 + 1.0))
        / (F.col("_tf") + k1 * (1.0 - b + b * F.col("_dl") / avgdl))
    )
    scored = (
        tf.join(F.broadcast(dfreq), "_t")
        .crossJoin(F.broadcast(stats))
        .select(F.col(id_col), F.round(w * F.lit(1e9)).cast("long").alias("_w9"))
    )
    per_doc = scored.groupBy(id_col).agg(F.sum("_w9").alias("_s9"))
    # top-k via global sort+limit: Spark plans TakeOrderedAndProject
    # (per-partition heaps merged on the driver — distributed), instead
    # of a global row_number window whose single ORDER BY partition
    # would funnel every matched document through one task at scale.
    # The rank column is then a window over just top_k rows.
    topk = per_doc.orderBy(F.col("_s9").desc(), F.col(id_col)).limit(top_k)
    rk = Window.orderBy(F.col("_s9").desc(), F.col(id_col))
    return topk.withColumn("rank", F.row_number().over(rk)).select(
        F.col(id_col),
        F.round(F.col("_s9") / F.lit(1e9), 6).alias("score"),
        F.col("rank").cast("long").alias("rank"),
    )


def bm25_topk_sql(
    table: str,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 20,
) -> str:
    """DuckDB twin: identical idf/tf math, identical nano-unit fixed
    pointing and tie-break order."""
    terms = sorted({t.lower() for t in query_terms})
    tlist = ", ".join(f"'{t}'" for t in terms)
    tok = tokens_sql(text_col)
    return f"""
    WITH d AS (SELECT {id_col}, {tok} AS _tok FROM {table}),
    dl AS (SELECT {id_col}, _tok, len(_tok) AS _dl FROM d),
    stats AS (SELECT COUNT(*) AS _N, SUM(_dl) AS _sumdl FROM dl),
    tf AS (SELECT {id_col}, _dl, _t, COUNT(*) AS _tf
           FROM (SELECT {id_col}, _dl, unnest(_tok) AS _t FROM dl)
           WHERE _t IN ({tlist})
           GROUP BY 1, 2, 3),
    dfreq AS (SELECT _t, COUNT(*) AS _df FROM tf GROUP BY 1),
    scored AS (
      SELECT tf.{id_col},
             CAST(ROUND(
               ln((_N - _df + 0.5) / (_df + 0.5) + 1.0)
               * (_tf * ({k1} + 1.0))
               / (_tf + {k1} * (1.0 - {b} + {b} * _dl / (CAST(_sumdl AS DOUBLE) / _N)))
               * 1e9) AS BIGINT) AS _w9
      FROM tf JOIN dfreq USING (_t) CROSS JOIN stats),
    per_doc AS (SELECT {id_col}, CAST(SUM(_w9) AS BIGINT) AS _s9
                FROM scored GROUP BY 1),
    ranked AS (SELECT {id_col}, _s9,
                      row_number() OVER (ORDER BY _s9 DESC, {id_col}) AS rank
               FROM per_doc)
    SELECT {id_col}, ROUND(_s9 / 1e9, 6) AS score, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= {top_k}
    """


# ---------------------------------------------------------------------------
# Hybrid retrieval fusion (RRF)
# ---------------------------------------------------------------------------


def hybrid_rrf(
    lex: DataFrame,
    sem: DataFrame,
    id_col: str,
    k: int = 60,
    top_k: int = 20,
) -> DataFrame:
    """Reciprocal-rank fusion of two ranked candidate lists (the standard
    hybrid-search combiner): ``score = sum over systems of
    1 / (k + rank)``, documents present in only one list keep that
    system's term alone.

    ``lex`` / ``sem`` each expose ``(id_col, rank)``. Determinism: the
    score is a fixed two-term sum of doubles (identical evaluation order
    in both engines), rounded to 6 dp on output; ties break on id.
    Ranked-list sizes are top-k-bounded upstream, so the fusion join is
    over two small sets — at corpus scale the heavy lifting stays in the
    per-system retrieval operators.
    """
    a = lex.select(F.col(id_col), F.col("rank").alias("_rl"))
    b = sem.select(F.col(id_col), F.col("rank").alias("_rs"))
    fused = a.join(b, id_col, "full_outer").select(
        F.col(id_col),
        (
            F.coalesce(1.0 / (F.lit(k) + F.col("_rl")), F.lit(0.0))
            + F.coalesce(1.0 / (F.lit(k) + F.col("_rs")), F.lit(0.0))
        ).alias("_score"),
        F.col("_rl").alias("lex_rank"),
        F.col("_rs").alias("sem_rank"),
    )
    topk = fused.orderBy(F.col("_score").desc(), F.col(id_col)).limit(top_k)
    rk = Window.orderBy(F.col("_score").desc(), F.col(id_col))
    return topk.withColumn("rank", F.row_number().over(rk)).select(
        F.col(id_col),
        F.round("_score", 6).alias("rrf_score"),
        "lex_rank",
        "sem_rank",
        F.col("rank").cast("long").alias("rank"),
    )


# ---------------------------------------------------------------------------
# Persisted BM25 postings index (build once, query many)
# ---------------------------------------------------------------------------


def _term_bucket(col, buckets: int):
    from .sampling import hash_bucket

    return hash_bucket(col, buckets, salt="bm25tb")


def _term_bucket_py(term: str, buckets: int) -> int:
    """Driver-side twin of :func:`_term_bucket` — the same
    ``md5('bm25tb:' || term)`` first-8-hex-chars recipe computed in pure
    Python, so serving-time partition pruning costs zero Spark jobs.
    Parity with the Column version is pinned by
    ``tests/test_search_ops.py::test_term_bucket_python_matches_spark``.
    """
    import hashlib

    h = hashlib.md5(f"bm25tb:{term}".encode("utf-8")).hexdigest()[:8]
    return int(h, 16) % buckets


#: On-disk layout version of the BM25 index/segment trees (covers
#: bm25_build_index, bm25_write_segment and the LSM merge's base-segment
#: layout) — folded into cached_index_dir keys; bump beside any layout
#: change. Starts at 2: it supersedes the hand-bumped "b64-v2" suffix.
BM25_LAYOUT_VERSION = 2


def bm25_build_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    path: str,
    buckets: int = 64,
) -> None:
    """Persist a BM25 index: postings parquet PARTITIONED BY a term hash
    bucket (``tb``), plus per-term document frequencies (same layout)
    and the 1-row corpus stats — the lexical build-once/query-many
    counterpart of :func:`~.similarity.ivf_build_index`.

    A query touching T terms reads at most T of the ``buckets``
    partition dirs (partition pruning on ``tb``) and pushes the exact
    term predicate into the parquet row-group scan — corpus size drops
    out of query cost entirely; only posting-list length matters,
    exactly like a dedicated search engine's inverted index.
    """
    _bm25_write(df, id_col, text_col, path, buckets, "overwrite")


def bm25_append_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    path: str,
    buckets: int = 64,
) -> None:
    """Fold new documents into a persisted BM25 index WITHOUT rebuilding
    — the lexical twin of ``ivf_append_index``. The batch's postings
    append into the matching term-bucket partitions, and its dfreq /
    corpus-stats rows land as new SEGMENTS that the query path sums at
    read time — document frequencies and (N, sum dl) totals are additive
    over disjoint doc sets, so append-then-query is bit-identical to a
    full rebuild (pytest-pinned).

    Caller contract: ids must not already exist in the index (append is
    blind by design; a membership check would re-scan the corpus)."""
    _bm25_write(df, id_col, text_col, path, buckets, "append")


def _bm25_write(
    df: DataFrame,
    id_col: str,
    text_col: str,
    path: str,
    buckets: int,
    mode: str,
) -> None:
    from pathlib import Path

    from ..sources.manifest import manifest_txn

    docs = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_tok")).select(
        F.col(id_col), F.col("_tok"), F.size("_tok").alias("_dl")
    )
    stats = docs.agg(F.count(F.lit(1)).alias("_N"), F.sum("_dl").alias("_sumdl"))
    with manifest_txn(path):
        stats.coalesce(1).write.mode(mode).parquet(str(Path(path) / "stats"))
        tf = (
            docs.select(F.col(id_col), "_dl", F.explode("_tok").alias("term"))
            .groupBy(id_col, "_dl", "term")
            .agg(F.count(F.lit(1)).alias("tf"))
            .withColumn("tb", _term_bucket(F.col("term"), buckets))
        )
        tf.write.mode(mode).partitionBy("tb").parquet(str(Path(path) / "postings"))
        (
            tf.groupBy("tb", "term")
            .agg(F.count(F.lit(1)).alias("df"))
            .write.mode(mode)
            .partitionBy("tb")
            .parquet(str(Path(path) / "dfreq"))
        )


def _covered_ranges(meta: dict) -> list[list[int]]:
    """Covered-batch coverage as merged inclusive [lo, hi] ranges."""
    return [list(map(int, r)) for r in meta.get("bm25_covered_ranges", [])]


def _ranges_add(ranges: list[list[int]], ids) -> list[list[int]]:
    """Merge ``ids`` into sorted, coalesced, inclusive [lo, hi] ranges."""
    pts = sorted(set(int(i) for i in ids))
    out: list[list[int]] = []
    for lo, hi in sorted(ranges):
        out.append([int(lo), int(hi)])
    for i in pts:
        out.append([i, i])
    out.sort()
    merged: list[list[int]] = []
    for lo, hi in out:
        if merged and lo <= merged[-1][1] + 1:
            merged[-1][1] = max(merged[-1][1], hi)
        else:
            merged.append([lo, hi])
    return merged


def _covered_contains(meta: dict, batch_id: int) -> bool:
    return any(lo <= batch_id <= hi for lo, hi in _covered_ranges(meta))


def bm25_write_segment(
    df: DataFrame,
    id_col: str,
    text_col: str,
    path: str,
    batch_id: int,
    buckets: int = 64,
) -> None:
    """Write one micro-batch's BM25 segment REPLAY-IDEMPOTENTLY: all
    three tables (postings / dfreq / stats) land under a ``batch_id=``
    partition, and an at-least-once replay of the batch REPLACES its own
    segment instead of appending a duplicate. This is the streaming-loop
    variant of :func:`bm25_append_index`, whose blind append is fine for
    a batch daily-crawl job but would double tf/df/N under replay —
    BM25's segments are ADDITIVE, so a duplicate segment silently
    corrupts every score, unlike the LSH/IVF indexes whose query paths
    dedup.

    The replace is MANIFEST-LEVEL (r7 VERDICT ask #2): files land in
    append mode inside a scoped :func:`~..sources.manifest.
    manifest_txn`, which retires the partition's previous files instead
    of letting Spark delete them mid-read — a concurrent external
    reader pinned to the prior snapshot keeps resolving every file it
    planned until GC's grace window expires. Dynamic partition
    overwrite (the pre-r8 spelling) had exactly-once stats but deleted
    the replaced files out from under pinned readers. A prior attempt
    that crashed before its commit left only orphans, which no snapshot
    references and GC sweeps — replay never double-counts.

    The query path is unchanged: ``batch_id`` is just an outer partition
    level; ``tb`` pruning still applies inside every segment, and the
    existing segment merge (sum dfreq/stats, union postings) is exactly
    the multi-batch read. Bootstrap and increment use the same call —
    the index is born segmented.

    Caller contract: a doc id must appear in at most one batch (dedup
    upstream, e.g. ``pipeline.streaming_drop_duplicates``); duplicate
    ids across DIFFERENT batches would double-count like any index
    append.

    COVERED batches are a manifest-level no-op (round 9): once
    :func:`bm25_merge_segments` has folded this ``batch_id`` into the
    merged base segment, the snapshot's
    ``meta["bm25_covered_ranges"]`` records it, and a
    checkpoint-rollback replay of the batch returns without writing —
    the batch's rows already live in the base segment, and re-writing
    the (now nonexistent) ``batch_id=`` partition would double tf/df/N.
    This is what makes CROSS-segment merging replay-safe; within-segment
    replay stays handled by the replace scope below.
    """
    from pathlib import Path

    from ..sources.manifest import latest_manifest

    m = latest_manifest(path)
    if m is not None and _covered_contains(
        m.get("meta", {}), int(batch_id)
    ):
        return

    from ..sources.manifest import manifest_txn

    scope = [
        f"stats/batch_id={int(batch_id)}",
        f"postings/batch_id={int(batch_id)}",
        f"dfreq/batch_id={int(batch_id)}",
    ]
    docs = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_tok")).select(
        F.col(id_col), F.col("_tok"), F.size("_tok").alias("_dl")
    )
    bid = F.lit(int(batch_id)).cast("long")
    with manifest_txn(path, replace_prefixes=scope):
        (
            docs.agg(F.count(F.lit(1)).alias("_N"), F.sum("_dl").alias("_sumdl"))
            .withColumn("batch_id", bid)
            .coalesce(1)
            .write.mode("append")
            .partitionBy("batch_id")
            .parquet(str(Path(path) / "stats"))
        )
        tf = (
            docs.select(F.col(id_col), "_dl", F.explode("_tok").alias("term"))
            .groupBy(id_col, "_dl", "term")
            .agg(F.count(F.lit(1)).alias("tf"))
            .withColumn("tb", _term_bucket(F.col("term"), buckets))
            .withColumn("batch_id", bid)
        )
        (
            tf.write.mode("append")
            .partitionBy("batch_id", "tb")
            .parquet(str(Path(path) / "postings"))
        )
        (
            tf.groupBy("tb", "term")
            .agg(F.count(F.lit(1)).alias("df"))
            .withColumn("batch_id", bid)
            .write.mode("append")
            .partitionBy("batch_id", "tb")
            .parquet(str(Path(path) / "dfreq"))
        )


#: batch_id of the merged base segment — foreachBatch ids are >= 0, so
#: -1 can never collide with a live micro-batch
BM25_MERGED_SEGMENT = -1


def bm25_merge_segments(spark, path: str, grace_sec: float = 300.0) -> int:
    """Fold every live BM25 segment into ONE merged base segment
    (``batch_id=-1``) — the LSM-style compaction that bounds query-time
    merge width (r8 VERDICT Next #2: segment count grew linearly with
    micro-batch count, the one unbounded-growth axis left in the
    serving layer).

    Merge math is exact by construction: postings rows move verbatim
    (doc ids are disjoint across segments by the write contract), df
    sums per (tb, term), and N / sum(dl) sum — the same additivity the
    query path already exploits at read time, now materialized once so
    reads stop paying it per query. Queries before and after the merge
    are bit-identical (pytest-pinned).

    Replay safety — the reason cross-segment merge was previously
    refused: merging away ``batch_id=7`` destroys the partition whose
    replace-scope overwrite made replay idempotent. The merge therefore
    records every folded batch id in the snapshot's
    ``meta["bm25_covered_ranges"]`` (carried forward by all later
    snapshots), and :func:`bm25_write_segment` turns a replay of a
    covered batch into a manifest-level NO-OP. The whole merge is one
    snapshot: pinned readers keep the pre-merge segment files through
    the GC grace window; a crash mid-merge publishes nothing and leaves
    only orphans.

    Returns the number of segments folded (0 when the index is flat,
    empty, or already a single segment). Single-maintainer like every
    mutation here: the caller serializes it against segment writes
    (e.g. by calling it from the same ``foreachBatch``)."""
    from pathlib import Path

    from ..sources.manifest import gc_index_tree, latest_manifest, manifest_txn

    rootp = Path(path)
    if latest_manifest(path) is None:
        return 0
    with manifest_txn(path, replace_prefixes=["postings", "dfreq", "stats"]) as txn:
        post_files = sorted(txn.current_live("postings"))
        dfreq_files = sorted(txn.current_live("dfreq"))
        stats_files = sorted(txn.current_live("stats"))
        if not post_files:
            txn.abort()
            return 0
        post = spark.read.option("basePath", str(rootp / "postings")).parquet(
            *[str(rootp / f) for f in post_files]
        )
        if "batch_id" not in post.columns:
            txn.abort()
            return 0  # flat build/append layout: already one segment
        bids = [
            int(r["batch_id"])
            for r in post.select("batch_id").distinct().collect()
        ]
        folded = [b for b in bids if b != BM25_MERGED_SEGMENT]
        if len(bids) <= 1:
            txn.abort()
            return 0
        bcol = F.lit(BM25_MERGED_SEGMENT).cast("long")
        # repartition ON tb before writing: without it each input task
        # writes its own file into every leaf it touches, so the merged
        # base would carry O(tasks) files per term bucket until the
        # next compaction (the soak caught exactly that at cadence
        # mismatch). With it the merge output is bounded at one file
        # per (batch_id, tb) leaf by construction — `buckets` is the
        # merge's write parallelism, the right knob at scale too.
        (
            post.withColumn("batch_id", bcol)
            .repartition(F.col("tb"))
            .write.mode("append")
            .partitionBy("batch_id", "tb")
            .parquet(str(rootp / "postings"))
        )
        (
            spark.read.option("basePath", str(rootp / "dfreq"))
            .parquet(*[str(rootp / f) for f in dfreq_files])
            .groupBy("tb", "term")
            .agg(F.sum("df").cast("long").alias("df"))
            .withColumn("batch_id", bcol)
            .repartition(F.col("tb"))
            .write.mode("append")
            .partitionBy("batch_id", "tb")
            .parquet(str(rootp / "dfreq"))
        )
        (
            spark.read.option("basePath", str(rootp / "stats"))
            .parquet(*[str(rootp / f) for f in stats_files])
            .agg(
                F.sum("_N").cast("long").alias("_N"),
                F.sum("_sumdl").cast("long").alias("_sumdl"),
            )
            .withColumn("batch_id", bcol)
            .coalesce(1)
            .write.mode("append")
            .partitionBy("batch_id")
            .parquet(str(rootp / "stats"))
        )
        # coverage is stored as MERGED [lo, hi] ranges, not an id list:
        # contiguous streaming batch ids collapse to one range, so the
        # snapshot meta and the per-write replay check stay O(1) no
        # matter how many batches have ever been folded (r9 review
        # catch — the id list grew with total batch count, the exact
        # axis this merge exists to bound)
        meta = latest_manifest(path).get("meta", {})
        txn.set_meta(
            "bm25_covered_ranges", _ranges_add(_covered_ranges(meta), folded)
        )
    gc_index_tree(path, grace_sec)
    return len(folded)


def bm25_query_index(
    spark,
    path: str,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 20,
    buckets: int = 64,
    id_col: str = "doc_id",
    snapshot: dict | None = None,
) -> DataFrame:
    """Query a persisted BM25 index: same scoring contract as
    :func:`bm25_topk` (nano-unit fixed-point contributions, Robertson
    idf, (score desc, id) ties) but reading ONLY the query terms'
    hash-bucket partitions + term-filtered row groups. All three tables
    resolve through the index's latest manifest snapshot
    (:func:`~..sources.manifest.manifest_read`), so a concurrent
    compaction or segment replay never yanks a planned file — and the
    three reads see ONE consistent snapshot generation."""
    from ..sources.manifest import latest_manifest, manifest_read

    snap = snapshot if snapshot is not None else latest_manifest(path)
    terms = sorted({t.lower() for t in query_terms})
    # compute the exact partition set driver-side so the scan carries a
    # literal tb IN (...) partition filter; pure-Python replication of
    # _term_bucket's md5 recipe (pinned by a parity test) — hashing a
    # handful of query terms must not launch a Spark job per serving call
    tbs = sorted({_term_bucket_py(t, buckets) for t in terms})
    postings = (
        manifest_read(spark, path, "postings", snapshot=snap)
        .filter(F.col("tb").isin([int(x) for x in tbs]))
        .filter(F.col("term").isin(terms))
    )
    # segment merge at read (Lucene-style): appends write additional
    # dfreq/stats rows for their own doc subset; document frequencies
    # and corpus totals are additive over disjoint doc sets, so summing
    # the segments reproduces the single-build values exactly.
    dfreq = (
        manifest_read(spark, path, "dfreq", snapshot=snap)
        .filter(F.col("tb").isin([int(x) for x in tbs]))
        .filter(F.col("term").isin(terms))
        .groupBy("term")
        .agg(F.sum("df").alias("df"))
    )
    stats = manifest_read(spark, path, "stats", snapshot=snap).agg(
        F.sum("_N").alias("_N"), F.sum("_sumdl").alias("_sumdl")
    )
    idf = F.log((F.col("_N") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    avgdl = F.col("_sumdl").cast("double") / F.col("_N")
    w = (
        idf
        * (F.col("tf") * (k1 + 1.0))
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("_dl") / avgdl))
    )
    scored = (
        postings.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .select(F.col(id_col), F.round(w * F.lit(1e9)).cast("long").alias("_w9"))
    )
    per_doc = scored.groupBy(id_col).agg(F.sum("_w9").alias("_s9"))
    topk = per_doc.orderBy(F.col("_s9").desc(), F.col(id_col)).limit(top_k)
    rk = Window.orderBy(F.col("_s9").desc(), F.col(id_col))
    return topk.withColumn("rank", F.row_number().over(rk)).select(
        F.col(id_col),
        F.round(F.col("_s9") / F.lit(1e9), 6).alias("score"),
        F.col("rank").cast("long").alias("rank"),
    )

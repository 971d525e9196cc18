"""Corpus-curation and advanced-analytics catalog queries: quality
classification, boilerplate, source mixtures, BPE, random projection,
kNN graphs + label-propagation communities, DSIR importance, entity
resolution (blocked + sorted-neighborhood) with golden records, LSH
precision/recall evaluation, trending, k-anonymity, bootstrap CIs,
TPC-H Q7/Q10 flavors, the composed curation stack, and the executed
streaming sessionization / sliding-count parity queries. Each query
carries a DuckDB oracle built from the same constants.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.buckets import ts_epoch_seconds
from ..operators import curation as C
from ..operators import entity as E
from ..operators import graph as G
from ..operators import sketches as K
from ..operators import quality as Q
from ..operators import similarity as S
from ..sources.files import stream_events
from ..streaming.pipeline import drain_to_table
from .queries import _DUCK_EPOCH, _t, query

# ---------------------------------------------------------------------------
# Hashed linear quality classifier (fastText-style)
# ---------------------------------------------------------------------------


@query(
    "classify_quality_linear",
    f"""
    WITH {C.classify_quality_sql('documents', 'doc_id', 'text')}
    SELECT doc_id, n_tokens, score_sum, keep FROM classified2
    """,
)
def q_classify_quality_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed bag-of-words linear classifier over every document: the
    fastText/CCNet quality-filter shape (hash token -> weight, sum,
    threshold) as a single codegen projection — map-only at any scale."""
    return C.classify_quality(_t(spark, sf_dir, "documents"), "doc_id", "text")


# ---------------------------------------------------------------------------
# Corpus-frequency boilerplate (C4-style repeated-content removal)
# ---------------------------------------------------------------------------

_BP_K = 3
_BP_MIN_DOCS = 5


@query(
    "boilerplate_flags",
    f"""
    WITH {C.boilerplate_stats_sql('documents', 'doc_id', 'text', _BP_K, _BP_MIN_DOCS)}
    SELECT doc_id, n_shingles, n_boiler, boiler_ppm, flagged FROM boiler
    """,
)
def q_boilerplate_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document boilerplate exposure: share of 3-gram slots whose
    gram occurs in >= 5 distinct documents corpus-wide (the C4
    repeated-line filter with shingles as the line unit). One gram
    shuffle + one hash join — no corpus-sized broadcast."""
    return C.boilerplate_stats(
        _t(spark, sf_dir, "documents"), "doc_id", "text", k=_BP_K, min_docs=_BP_MIN_DOCS
    )


# ---------------------------------------------------------------------------
# Temperature-scaled source mixture
# ---------------------------------------------------------------------------


@query(
    "mixture_temperature",
    f"""
    WITH {C.temperature_mixture_sql('documents', 'source', 'text')}
    SELECT source, n_docs, tok_sum, nat_ppm, temp_ppm FROM mixture
    """,
)
def q_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alpha=0.5 temperature sampling weights per source (integer ppm):
    the multilingual-mixture rebalancing pass. One partial-agg shuffle
    over the corpus; totals join broadcasts #sources rows."""
    return C.temperature_mixture(_t(spark, sf_dir, "documents"), "source", "text")


# ---------------------------------------------------------------------------
# BPE round-one pair counts
# ---------------------------------------------------------------------------


@query(
    "bpe_pair_counts",
    f"""
    WITH {C.adjacent_pair_counts_sql('documents', 'text', 50)}
    SELECT pair, cnt, rank FROM pair_counts
    """,
)
def q_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-50 adjacent token pairs — the distributed
    counting step of one BPE merge round (map-side partial counts, one
    pair-key shuffle, distributed top-N; the rank window touches only
    the 50 survivors)."""
    return C.adjacent_pair_counts(_t(spark, sf_dir, "documents"), "text", top_n=50)


# ---------------------------------------------------------------------------
# Sign random projection (RP sketch + RP-LSH bucket)
# ---------------------------------------------------------------------------

_RP_DIMS = 4
_EMB_IN_DIMS = 64


@query(
    "embedding_random_projection",
    f"""
    WITH {S.random_projection_sql('embeddings', 'vec_id', 'embedding', _EMB_IN_DIMS, _RP_DIMS)}
    SELECT vec_id, p0, p1, p2, p3, rp_bucket FROM rp
    """,
)
def q_embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sign random projection 64 -> 4 dims plus the
    random-hyperplane LSH bucket (every bit mixes ALL input dims).
    Exact BIGINT arithmetic after round(v*1000) quantization; map-only,
    zero exchanges."""
    return S.random_projection(
        _t(spark, sf_dir, "embeddings"), "vec_id", "embedding",
        in_dims=_EMB_IN_DIMS, out_dims=_RP_DIMS,
    )


# ---------------------------------------------------------------------------
# Approximate kNN graph
# ---------------------------------------------------------------------------

_KNN_BUCKET_SQL = " + ".join(
    f"(CASE WHEN v[{i + 1}] > 0 THEN {1 << i} ELSE 0 END)" for i in range(8)
)


# `knn_graph_lsh` and `graph_communities_lpa` both need the SAME kNN
# edge frame (bucket join + per-source top-k window over embeddings) —
# until round 5 the two builds sometimes rode each other's transient
# plan cache by bench adjacency, and losing that adjacency was the r5
# LPA slowdown. Share the artifact DELIBERATELY through the per-dataset
# memo instead (same trade as the LSH pair set: one build per (session,
# dataset), results unchanged — both queries still hash-match their
# oracles independently).
def _knn_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ._memo import dataset_memo

    return dataset_memo(
        spark, sf_dir, "knn_edges",
        lambda: S.knn_graph(
            _t(spark, sf_dir, "embeddings"), "vec_id", "embedding",
            top_k=3, planes=8,
        ),
    )


@query(
    "knn_graph_lsh",
    f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
            WHERE list_dot_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[])) > 0),
    {S.knn_graph_sql('e', 'vec_id', _KNN_BUCKET_SQL, 3)}
    SELECT src, dst, cosine, rank FROM knn
    """,
)
def q_knn_graph_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed approximate kNN graph (top-3 per node among same-
    sign-bucket candidates): the edge list for graph-based curation.
    One bucket-key equi-join + one per-source window — candidate volume
    ~ N^2/2^8, no all-pairs stage. Edge frame memoized per dataset and
    shared with ``graph_communities_lpa``."""
    return _knn_edges(spark, sf_dir)


# ---------------------------------------------------------------------------
# DSIR importance weighting (target-domain resampling scores)
# ---------------------------------------------------------------------------

_DSIR_TGT = "source IN ('src0', 'src1')"


@query(
    "dsir_importance",
    f"""
    WITH {Q.dsir_importance_sql('documents', 'doc_id', 'text', _DSIR_TGT)}
    SELECT doc_id, n_tokens, lr9_sum, selected FROM dsir
    """,
)
def q_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance scores: log-likelihood ratio of each document's
    tokens under the target domain (src0/src1) vs the whole corpus,
    nano-bit integer fixed point. One conditional-agg token shuffle
    builds both distributions in a single pass."""
    return Q.dsir_importance(
        _t(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        F.col("source").isin("src0", "src1"),
    )


# ---------------------------------------------------------------------------
# Blocked fuzzy entity matching
# ---------------------------------------------------------------------------

_ER_MAXDIST = 3


@query(
    "entity_match_parts",
    f"""
    WITH entities AS (
      SELECT p_name, MIN(p_partkey) AS ent_id FROM part GROUP BY 1
    ),
    {E.blocked_fuzzy_pairs_sql('entities', 'ent_id', 'p_name',
                               "string_split(p_name, ' ')[-1]", _ER_MAXDIST)}
    SELECT id_a, id_b, name_a, name_b, distance FROM fuzzy_pairs
    """,
)
def q_entity_match_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution over the part catalog: canonicalize to distinct
    names first (the dedup-then-match shape — candidate volume depends
    on the ENTITY count, not the row count), block on the head noun,
    verify with levenshtein <= 3 inside each block. One groupBy + one
    block-key equi-join; never all-pairs."""
    entities = (
        _t(spark, sf_dir, "part")
        .groupBy("p_name")
        .agg(F.min("p_partkey").alias("ent_id"))
    )
    return E.blocked_fuzzy_pairs(
        entities,
        "ent_id",
        "p_name",
        F.element_at(F.split(F.col("p_name"), " "), -1),
        max_distance=_ER_MAXDIST,
        # the head-noun block key is hot (common nouns own big blocks);
        # salt spreads each block's quadratic verify across 8 tasks
        # (r13, guide §2.5 — same recipe as SemDeDup's cells)
        salt_buckets=8,
    )


# ---------------------------------------------------------------------------
# Trending: top event types per time bucket
# ---------------------------------------------------------------------------

_TREND_BUCKET = 3600
_TREND_K = 3


@query(
    "trending_by_bucket",
    f"""
    WITH b AS (
      SELECT ({_DUCK_EPOCH.format(col='ts')} // {_TREND_BUCKET}) * {_TREND_BUCKET} AS bucket_start,
             event_type
      FROM events
    ),
    counted AS (
      SELECT bucket_start, event_type, COUNT(*) AS cnt FROM b GROUP BY 1, 2
    )
    SELECT bucket_start, event_type, cnt, rank FROM (
      SELECT bucket_start, event_type, cnt,
             CAST(row_number() OVER (PARTITION BY bucket_start
                                     ORDER BY cnt DESC, event_type) AS BIGINT) AS rank
      FROM counted
    ) WHERE rank <= {_TREND_K}
    """,
)
def q_trending_by_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending detection: top-3 event types per tumbling hour. One
    partial-agg shuffle on (bucket, type) + one window partitioned by
    bucket — the serving-side 'what's hot right now' query over the
    reference's bucket-count output shape."""
    ev = _t(spark, sf_dir, "events").select(
        (
            F.floor(ts_epoch_seconds(F.col("ts")) / _TREND_BUCKET) * _TREND_BUCKET
        ).cast("long").alias("bucket_start"),
        "event_type",
    )
    counted = ev.groupBy("bucket_start", "event_type").agg(F.count("*").alias("cnt"))
    w = W.partitionBy("bucket_start").orderBy(F.col("cnt").desc(), F.col("event_type"))
    return (
        counted.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= _TREND_K)
    )


# ---------------------------------------------------------------------------
# Streaming sessionization, EXECUTED through Structured Streaming
# ---------------------------------------------------------------------------

_SS_GAP = 1800


@query(
    "streaming_sessionize",
    f"""
    WITH e AS (SELECT user_id, {_DUCK_EPOCH.format(col='ts')} AS ts_e FROM events),
    flagged AS (
      SELECT user_id, ts_e,
             CASE WHEN ts_e - lag(ts_e) OVER w > {_SS_GAP} THEN 1 ELSE 0 END AS new_s
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_e)
    ),
    sessioned AS (
      SELECT user_id, ts_e,
             CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_e
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS s_idx
      FROM flagged
    )
    SELECT user_id,
           MIN(ts_e) AS session_start_e,
           MAX(ts_e) + {_SS_GAP} AS session_end_e,
           COUNT(*) AS n_events
    FROM sessioned GROUP BY user_id, s_idx
    """,
)
def q_streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization EXECUTED as a Structured Streaming query:
    the event stream grouped by ``session_window`` (state-backed session
    merge), drained with availableNow into a memory sink, and
    oracle-checked against the batch islands construction — §2.11
    evidence that the streaming session operator computes the same
    relation. Boundary semantics, pinned empirically (the gen-sf0.1
    second-distribution sweep caught the oracle getting this wrong): an
    event EXACTLY ``gap`` seconds after the previous one CONTINUES the
    session — ``session_window`` merges touching windows — so the split
    condition is ``diff > gap``, identical to the batch
    ``sessionize_events`` islands. The driver dataset's sub-second
    timestamps can never produce an exact-gap pair, which is why a
    ``>=`` oracle survived four rounds there.
    """
    from ..operators.sessions import streaming_session_counts

    def build() -> DataFrame:
        ev = stream_events(spark, sf_dir).select(
            "user_id", F.timestamp_seconds(ts_epoch_seconds(F.col("ts"))).alias("evt")
        )
        return streaming_session_counts(ev, "user_id", "evt", _SS_GAP)

    return drain_to_table(spark, "streaming_sessionize", build, "complete").select(
        "user_id",
        ts_epoch_seconds(F.col("session.start")).alias("session_start_e"),
        ts_epoch_seconds(F.col("session.end")).alias("session_end_e"),
        F.col("n_events").cast("long").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# The composed curation stack: classifier + boilerplate + DSIR + dedup
# in ONE auditable keep/drop decision per document
# ---------------------------------------------------------------------------

# reason bits, wire order (bit set = rule fired = reason to drop).
# The SQL-predicate map below is the SINGLE definition both the oracle
# and the Spark builder derive their bit literals from — reordering or
# extending this tuple changes both sides together.
_STACK_BITS = ("clf_reject", "boilerplate", "dsir_reject", "duplicate")
_STACK_PREDS_SQL = {
    "clf_reject": "NOT cl.keep",
    "boilerplate": "b.flagged",
    "dsir_reject": "NOT d.selected",
    "duplicate": "NOT c.canonical",
}
_STACK_FLAGS_SQL = "\n                + ".join(
    f"(CASE WHEN {_STACK_PREDS_SQL[name]} THEN {1 << i} ELSE 0 END)"
    for i, name in enumerate(_STACK_BITS)
)

from ..functions.text import md5_fingerprint_sql as _fp_sql  # noqa: E402

_FPRINT_SQL = _fp_sql("text")


@query(
    "corpus_curation_stack",
    f"""
    WITH {C.classify_quality_sql('documents', 'doc_id', 'text')},
    {C.boilerplate_stats_sql('documents', 'doc_id', 'text', _BP_K, _BP_MIN_DOCS)},
    {Q.dsir_importance_sql('documents', 'doc_id', 'text', _DSIR_TGT)},
    canon AS (
      SELECT doc_id,
             doc_id = MIN(doc_id) OVER (
               PARTITION BY {_FPRINT_SQL}
             ) AS canonical
      FROM documents
    ),
    stack AS (
      SELECT c.doc_id,
             CAST({_STACK_FLAGS_SQL} AS BIGINT) AS reason_flags
      FROM canon c
      JOIN classified2 cl USING (doc_id)
      JOIN boiler b USING (doc_id)
      JOIN dsir d USING (doc_id)
    )
    SELECT doc_id, reason_flags, reason_flags = 0 AS keep FROM stack
    """,
)
def q_corpus_curation_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full modern curation stack as ONE query: hashed-linear
    classifier, corpus-frequency boilerplate, DSIR target-likeness, and
    exact near-dup canonicalization, folded into an auditable per-doc
    ``reason_flags`` bitmask (bit order: clf_reject, boilerplate,
    dsir_reject, duplicate) and the final ``keep`` decision.

    Scale shape: ONE text scan — the four signals share a persisted
    ``(doc_id, is_target, tokens, fingerprint)`` feature frame instead
    of each re-reading and re-tokenizing the corpus (see
    :func:`~..operators.curation.curation_stack`); per-signal shuffle
    profiles are unchanged, and the composition is two doc_id left
    joins of the aggregate frames onto the map-side base.
    """
    assert C.STACK_BITS == _STACK_BITS  # Spark bit order == oracle bit order
    return C.curation_stack(
        _t(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        F.col("source").isin("src0", "src1"),
        k=_BP_K,
        min_docs=_BP_MIN_DOCS,
    )


# ---------------------------------------------------------------------------
# Sorted-neighborhood entity matching (the other ER blocking strategy)
# ---------------------------------------------------------------------------

_SN_WINDOW = 3
_SN_MAXDIST = 4


@query(
    "entity_match_sorted",
    f"""
    WITH entities AS (
      SELECT p_name, MIN(p_partkey) AS ent_id FROM part GROUP BY 1
    ),
    {E.sorted_neighborhood_pairs_sql('entities', 'ent_id', 'p_name', _SN_WINDOW, _SN_MAXDIST)}
    SELECT id_a, id_b, name_a, name_b, distance FROM sn_pairs
    """,
)
def q_entity_match_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood ER over the part catalog: global name order
    computed DISTRIBUTED (bucket-local rank + broadcast cumulative
    offsets — no single-partition window), each entity compared to its
    next 3 neighbors via an integer rank equi-join. Exactly N*3
    candidates; catches near-misses that straddle block boundaries
    (complement of `entity_match_parts`)."""
    entities = (
        _t(spark, sf_dir, "part")
        .groupBy("p_name")
        .agg(F.min("p_partkey").alias("ent_id"))
    )
    return E.sorted_neighborhood_pairs(
        entities, "ent_id", "p_name", window=_SN_WINDOW, max_distance=_SN_MAXDIST
    )


# ---------------------------------------------------------------------------
# k-anonymity audit (data-governance DQ check)
# ---------------------------------------------------------------------------

_KANON_K = 5


@query(
    "privacy_k_anonymity",
    f"""
    SELECT c_nationkey, c_mktsegment,
           COUNT(*) AS group_n,
           COUNT(*) < {_KANON_K} AS violates_k
    FROM customer
    GROUP BY 1, 2
    """,
)
def q_privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the (nation, market-segment) quasi-
    identifier: every equivalence class with its size and a k<5
    violation flag — the privacy-governance DQ pass a training-data
    pipeline runs before release. One partial-agg shuffle."""
    return (
        _t(spark, sf_dir, "customer")
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("group_n"))
        .withColumn("violates_k", F.col("group_n") < F.lit(_KANON_K))
    )


# ---------------------------------------------------------------------------
# TPC-H Q7 flavor: volume shipping between nation pairs
# ---------------------------------------------------------------------------

_Q7_REV = "CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)"


@query(
    "sql_volume_shipping",
    f"""
    SELECT supp_nation, cust_nation,
           CAST(SUM(rev) AS BIGINT) AS revenue_x10k,
           COUNT(*) AS n_items
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             {_Q7_REV} AS rev
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE n1.n_nationkey <> n2.n_nationkey
    )
    GROUP BY 1, 2
    """,
)
def q_sql_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 flavor through the SQL pass-through surface: cross-
    border revenue between (supplier nation, customer nation) pairs.
    Both nation joins broadcast; lineitem->orders->customer rides the
    natural key co-partitioning; revenue in exact integer 1/10000ths."""
    for name in ("lineitem", "supplier", "orders", "customer", "nation"):
        _t(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(
        f"""
        SELECT supp_nation, cust_nation,
               CAST(SUM(rev) AS BIGINT) AS revenue_x10k,
               COUNT(*) AS n_items
        FROM (
          SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                 {_Q7_REV} AS rev
          FROM lineitem
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN orders   ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation n1 ON s_nationkey = n1.n_nationkey
          JOIN nation n2 ON c_nationkey = n2.n_nationkey
          WHERE n1.n_nationkey <> n2.n_nationkey
        )
        GROUP BY 1, 2
        """
    )


# ---------------------------------------------------------------------------
# Community detection: label propagation over the kNN graph
# ---------------------------------------------------------------------------

_LPA_ITERS = 4


@query(
    "graph_communities_lpa",
    f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
            WHERE list_dot_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[])) > 0),
    {S.knn_graph_sql('e', 'vec_id', _KNN_BUCKET_SQL, 3)},
    {G.label_propagation_sql('SELECT src, dst FROM knn', 'src', 'dst', _LPA_ITERS)}
    SELECT u AS node, label AS community FROM lpa_final
    """,
)
def q_graph_communities_lpa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space communities: synchronous label propagation (4
    fixed rounds, deterministic integer argmax) over the approximate
    kNN graph — the SemDeDup-style grouping that feeds cluster-level
    curation decisions. Per round: one node-keyed hash join + two
    chained aggregations; the oracle UNROLLS the rounds as plain CTEs
    (a recursive-CTE form diverges in DuckDB on oscillating graphs —
    see label_propagation_sql). Reads the shared memoized kNN edge
    frame (:func:`_knn_edges`) instead of rebuilding the bucket join +
    window."""
    edges = _knn_edges(spark, sf_dir).select("src", "dst")
    return G.label_propagation(edges, "src", "dst", iterations=_LPA_ITERS)


# ---------------------------------------------------------------------------
# Deterministic Poisson-bootstrap confidence intervals
# ---------------------------------------------------------------------------

_BOOT_B = 16
_VAL_E4 = "CAST(ROUND(value * 10000) AS BIGINT)"


@query(
    "bootstrap_value_ci",
    f"""
    WITH {K.bootstrap_mean_ci_sql('events', 'event_type', 'event_id', _VAL_E4, _BOOT_B)}
    SELECT event_type, n, mean_e4, lo_e4, hi_e4 FROM boot_ci
    """,
)
def q_bootstrap_value_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type mean value with a 16-replicate deterministic
    Poisson-bootstrap confidence band — reproducible uncertainty
    quantification at scale with NO rand(): replicate weights derive
    from md5(event_id, b). One (group, replicate) partial-agg shuffle;
    B=16 is the explicit cost multiplier on map output."""
    ev = _t(spark, sf_dir, "events")
    return K.bootstrap_mean_ci(
        ev,
        "event_type",
        "event_id",
        F.round(F.col("value") * F.lit(10000)).cast("long"),
        replicates=_BOOT_B,
    )


# ---------------------------------------------------------------------------
# LSH quality evaluation: precision/recall vs exact Jaccard truth
# ---------------------------------------------------------------------------


def _lsh_eval_sql() -> str:
    from .extensions import (
        _BAND0,
        _BAND1,
        _DOC_SHINGLES,
        _JACCARD_FROM_DS,
        _MINHASH_HS,
        _SIG_COLS,
    )

    return f"""
    WITH {_DOC_SHINGLES}, {_JACCARD_FROM_DS}, {_MINHASH_HS},
    sig AS (SELECT doc, {_SIG_COLS} FROM hs GROUP BY doc),
    banded AS (SELECT doc, {_BAND0} AS band_0, {_BAND1} AS band_1 FROM sig),
    cand AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b
      FROM banded a JOIN banded b ON a.band_0 = b.band_0 WHERE a.doc < b.doc
      UNION
      SELECT a.doc AS doc_a, b.doc AS doc_b
      FROM banded a JOIN banded b ON a.band_1 = b.band_1 WHERE a.doc < b.doc
    ),
    truth AS (SELECT doc_a, doc_b FROM jac WHERE jaccard >= 0.5),
    tp AS (SELECT COUNT(*) AS n FROM cand JOIN truth USING (doc_a, doc_b)),
    m AS (SELECT (SELECT COUNT(*) FROM truth) AS n_truth,
                 (SELECT COUNT(*) FROM cand) AS n_candidates,
                 (SELECT n FROM tp) AS n_true_positive)
    SELECT CAST(n_truth AS BIGINT) AS n_truth,
           CAST(n_candidates AS BIGINT) AS n_candidates,
           CAST(n_true_positive AS BIGINT) AS n_true_positive,
           CAST(CASE WHEN n_candidates > 0
                THEN n_true_positive * 1000000 // n_candidates ELSE 0 END AS BIGINT) AS precision_ppm,
           CAST(CASE WHEN n_truth > 0
                THEN n_true_positive * 1000000 // n_truth ELSE 0 END AS BIGINT) AS recall_ppm
    FROM m
    """


@query("dedup_lsh_eval", _lsh_eval_sql())
def q_dedup_lsh_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH tuning loop: MinHash banded candidates (2 bands x 4 rows)
    scored against exact k-gram Jaccard >= 0.5 ground truth — one row of
    (n_truth, n_candidates, n_true_positive, precision_ppm, recall_ppm).
    Run at sample scale to pick bands/rows BEFORE the full corpus pass;
    exact-ppm integers make the report oracle-replayable."""
    from ..operators.dedup import minhash_lsh_eval

    return minhash_lsh_eval(
        _t(spark, sf_dir, "documents"), "doc_id", "text",
        num_hashes=8, bands=2, k=3, threshold=0.5,
    )


# ---------------------------------------------------------------------------
# Golden records: ER pairs -> connected components -> canonical entity
# ---------------------------------------------------------------------------


@query(
    "entity_golden_records",
    f"""
    WITH RECURSIVE entities AS (
      SELECT p_name, MIN(p_partkey) AS ent_id FROM part GROUP BY 1
    ),
    {E.blocked_fuzzy_pairs_sql('entities', 'ent_id', 'p_name',
                               "string_split(p_name, ' ')[-1]", _ER_MAXDIST)},
    pairs AS (SELECT id_a AS doc_a, id_b AS doc_b FROM fuzzy_pairs),
    {G.transitive_closure_sql('pairs')}
    SELECT CAST(COALESCE(c.component, e.ent_id) AS BIGINT) AS cluster_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           ARG_MIN(e.p_name, e.ent_id) AS canonical_name
    FROM entities e LEFT JOIN cc c ON e.ent_id = c.node
    GROUP BY 1
    """,
)
def q_entity_golden_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full record-linkage pipeline: canonicalize -> blocked fuzzy
    match -> connected components -> one golden record per entity
    cluster (canonical = the min-id member's name, singletons included).
    Match/cluster costs are entity-scale; the corpus only pays the
    initial canonicalization groupBy."""
    from ..operators.graph import connected_components

    entities = (
        _t(spark, sf_dir, "part")
        .groupBy("p_name")
        .agg(F.min("p_partkey").alias("ent_id"))
    )
    pairs = E.blocked_fuzzy_pairs(
        entities, "ent_id", "p_name",
        F.element_at(F.split(F.col("p_name"), " "), -1),
        max_distance=_ER_MAXDIST,
        # salt the hot head-noun blocks (r13, guide §2.5) — see
        # q_entity_match_parts
        salt_buckets=8,
    ).select("id_a", "id_b")
    cc = connected_components(pairs, "id_a", "id_b")
    return (
        entities.join(cc, entities["ent_id"] == cc["node"], "left")
        .select(
            F.coalesce("component", "ent_id").cast("long").alias("cluster_id"),
            "ent_id",
            "p_name",
        )
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.min_by("p_name", "ent_id").alias("canonical_name"),
        )
    )


# ---------------------------------------------------------------------------
# Hopping-window counts EXECUTED through Structured Streaming
# ---------------------------------------------------------------------------

_SSW_WIN, _SSW_STEP = 60, 20


from ..operators.count import sliding_bucket_count_sql as _sliding_sql  # noqa: E402


@query(
    "streaming_count_sliding",
    _sliding_sql(
        "events", ["event_type"], _DUCK_EPOCH.format(col="ts"), _SSW_WIN, _SSW_STEP
    ),
)
def q_streaming_count_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hopping-window count EXECUTED as a Structured Streaming query
    (60s window, 20s hop, complete-mode availableNow drain into a memory
    sink) — §2.11 evidence that the streaming sliding aggregation equals
    the batch `bucket_count_sliding` relation (same F.window construct,
    same oracle)."""

    def build() -> DataFrame:
        evt = F.timestamp_seconds(ts_epoch_seconds(F.col("ts")))
        return (
            stream_events(spark, sf_dir)
            .select("event_type", evt.alias("evt"))
            .withWatermark("evt", "1 second")
            .groupBy(
                "event_type",
                F.window(F.col("evt"), f"{_SSW_WIN} seconds", f"{_SSW_STEP} seconds").alias("_w"),
            )
            .agg(F.count(F.lit(1)).alias("count"))
        )

    return drain_to_table(spark, "streaming_count_sliding", build, "complete").select(
        "event_type",
        ts_epoch_seconds(F.col("_w.start")).alias("bucket_start"),
        ts_epoch_seconds(F.col("_w.end")).alias("bucket_end"),
        F.col("count").cast("long").alias("count"),
    )


# ---------------------------------------------------------------------------
# TPC-H Q10 flavor: returned-item customer ranking
# ---------------------------------------------------------------------------


@query(
    "sql_returned_item_ranking",
    f"""
    SELECT c_custkey, c_name, n_name,
           CAST(SUM({_Q7_REV}) AS BIGINT) AS revenue_x10k
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
    GROUP BY 1, 2, 3
    ORDER BY revenue_x10k DESC, c_custkey
    LIMIT 20
    """,
)
def q_sql_returned_item_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 flavor: top-20 customers by revenue lost to returns.
    The returnflag filter pushes to the lineitem scan, nation
    broadcasts, and the top-20 plans as TakeOrderedAndProject
    (distributed top-k with a total tie-break order, no global sort)."""
    for name in ("lineitem", "orders", "customer", "nation"):
        _t(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(
        f"""
        SELECT c_custkey, c_name, n_name,
               CAST(SUM({_Q7_REV}) AS BIGINT) AS revenue_x10k
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
        GROUP BY 1, 2, 3
        ORDER BY revenue_x10k DESC, c_custkey
        LIMIT 20
        """
    )


# ---------------------------------------------------------------------------
# UNPIVOT (wide -> long melt) — the inverse of the pivot surface
# ---------------------------------------------------------------------------


@query(
    "unpivot_order_flags",
    """
    SELECT o_orderkey, metric, CAST(val AS BIGINT) AS val
    FROM (
      SELECT o_orderkey,
             CAST(ROUND(o_totalprice * 10000) AS BIGINT) AS total_x10k,
             CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since_95
      FROM orders
    ) UNPIVOT (val FOR metric IN (total_x10k, days_since_95))
    """,
)
def q_unpivot_order_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide -> long melt (UNPIVOT): per-order metrics flattened to
    (key, metric, value) rows — the inverse of `pivot_event_daily` and
    the standard reshape before generic per-metric aggregation.
    Shuffle-free: `stack` is a pure projection (each input row expands
    to #metrics output rows map-side)."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 10000).cast("long").alias("total_x10k"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date"))
        .cast("long")
        .alias("days_since_95"),
    )
    return o.unpivot(
        ["o_orderkey"], ["total_x10k", "days_since_95"], "metric", "val"
    )


# ---------------------------------------------------------------------------
# TPC-H Q15 flavor: top supplier(s) by revenue
# ---------------------------------------------------------------------------


@query(
    "sql_top_supplier",
    f"""
    WITH srev AS (
      SELECT l_suppkey, CAST(SUM({_Q7_REV}) AS BIGINT) AS total_rev_x10k
      FROM lineitem GROUP BY 1
    )
    SELECT s_suppkey, s_name, total_rev_x10k
    FROM srev JOIN supplier ON l_suppkey = s_suppkey
    WHERE total_rev_x10k = (SELECT MAX(total_rev_x10k) FROM srev)
    """,
)
def q_sql_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 flavor: the supplier(s) achieving maximum revenue —
    one partial-agg shuffle on suppkey, a 1-row max subquery reused from
    the same aggregate, and a broadcast join against the supplier dim.
    Keeps ALL ties (the Q15 contract), so no arbitrary LIMIT."""
    for name in ("lineitem", "supplier"):
        _t(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(
        f"""
        WITH srev AS (
          SELECT l_suppkey, CAST(SUM({_Q7_REV}) AS BIGINT) AS total_rev_x10k
          FROM lineitem GROUP BY 1
        )
        SELECT s_suppkey, s_name, total_rev_x10k
        FROM srev JOIN supplier ON l_suppkey = s_suppkey
        WHERE total_rev_x10k = (SELECT MAX(total_rev_x10k) FROM srev)
        """
    )


# ---------------------------------------------------------------------------
# Contamination monitoring: per-source eval-overlap rates
# ---------------------------------------------------------------------------

_CBS_K = 5
_CBS_FRAC = 0.2


@query(
    "contamination_by_source",
    f"""
    WITH ev_docs AS (SELECT * FROM documents WHERE doc_id < 20),
    corpus AS (SELECT * FROM documents WHERE doc_id >= 20),
    {Q.decontaminate_sql('corpus', 'ev_docs', 'doc_id', 'text', _CBS_K, _CBS_FRAC)}
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN dc.contaminated THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
           CAST(SUM(CASE WHEN dc.contaminated THEN 1 ELSE 0 END) * 1000000 // COUNT(*) AS BIGINT) AS contaminated_ppm
    FROM decontam dc JOIN documents d USING (doc_id)
    GROUP BY 1
    """,
)
def q_contamination_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination monitoring rollup: per-source share of corpus
    documents overlapping the eval set (exact ppm) — the dashboard view
    that tells you WHICH ingestion source is leaking benchmarks, not
    just which documents. One groupBy over the per-doc decontamination
    frame joined to the source dimension on doc_id."""
    docs = _t(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") < 20)
    corpus = docs.filter(F.col("doc_id") >= 20)
    dc = Q.decontaminate(
        corpus, ev, "doc_id", "text", k=_CBS_K, min_overlap_frac=_CBS_FRAC
    )
    return (
        dc.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("contaminated"), 1).otherwise(0))
            .cast("long")
            .alias("n_contaminated"),
        )
        .withColumn(
            "contaminated_ppm",
            F.expr("n_contaminated * 1000000 div n_docs").cast("long"),
        )
    )

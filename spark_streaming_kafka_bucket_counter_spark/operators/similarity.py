"""Similarity search over embedding columns: brute-force cosine top-k
(the exactness baseline) and a sign-bucketed LSH variant (the scale path).

Beyond-reference scope (BASELINE.json north star). Embeddings are
``array<float>`` columns; all math runs as Catalyst array expressions
(``zip_with`` product + ``aggregate`` sum), cast to double *before*
summation and folded in index order — giving bit-stable results that the
DuckDB oracles reproduce (cosines additionally rounded to 6 dp as a
cross-engine guard).

Scale design:
- brute force is O(Q x N): fine when Q (query set) is small and N is
  streamed — the candidate side never materializes, each partition
  computes its local top-k via partial TakeOrdered, then the driver
  merges k x partitions rows. For all-pairs N x N, don't: use the
  bucketed variant.
- ``sign_bucket`` LSH: bucket = sign pattern of the first ``planes``
  dimensions (axis-aligned hyperplanes — deterministic, no stored model).
  Same-bucket join reduces comparisons by ~2^planes; recall is tunable by
  probing neighboring buckets (hamming-1 expansion).
- at 100 TB the bucketed join is a standard hash-shuffle on small int
  keys; skew (dense buckets) is handled by AQE skew-join splitting.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..sources.files import fan_out_scan
from ._cache import persist, scoped


#: DuckDB oracle twin of :func:`cosine` over aliased sides ``a.v``/``b.v``
#: — ONE definition shared by every *_sql builder (extensions, knn, LPA)
COSINE_AB_SQL = (
    "ROUND(list_dot_product(a.v, b.v) / "
    "(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6)"
)


def _dvec(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Index-ordered fold of the element products (deterministic)."""
    return F.aggregate(
        F.zip_with(_dvec(a), _dvec(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column, decimals: int = 6) -> Column:
    """Cosine similarity rounded to ``decimals`` (cross-engine stability).

    NULL when either norm is zero (undefined direction) instead of the
    ANSI divide-by-zero error — matches DuckDB's x/0 -> NULL, so both
    engines drop such rows through any threshold/rank filter the same
    way. Similarity OPERATORS additionally exclude zero-norm vectors at
    entry (:func:`nonzero_vectors`): a zero vector is a failed-encoder
    sentinel, not a neighbor candidate."""
    den = norm(a) * norm(b)
    return F.when(den > 0, F.round(dot(a, b) / den, decimals))


def nonzero_vectors(df: DataFrame, vec_col: str) -> DataFrame:
    """Exclude zero-norm vectors — the shared entry guard of every
    cosine-similarity operator (edge-case sweep: a single all-zero
    embedding crashed eleven catalog queries with ANSI divide-by-zero).
    Squared-norm > 0 is exact in doubles, no epsilon needed."""
    return df.filter(dot(F.col(vec_col), F.col(vec_col)) > 0)


def cosine_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_ids: list[int] | None = None,
    query_df: DataFrame | None = None,
    top_k: int = 5,
) -> DataFrame:
    """Brute-force cosine top-k: for each query vector, the k nearest
    other vectors (self excluded), ranked by (cosine desc, candidate id).

    The query side is broadcast (small by construction); the candidate
    side streams through one pass — no N x N materialization.
    Zero-norm vectors are excluded on both sides (:func:`nonzero_vectors`).
    """
    df = nonzero_vectors(df, vec_col)
    if query_df is not None:
        query_df = nonzero_vectors(query_df, vec_col)
    cand = df.select(F.col(id_col).alias("cand_id"), F.col(vec_col).alias("cand_vec"))
    if query_df is None:
        if query_ids is None:
            raise ValueError("provide query_ids or query_df")
        query_df = df.filter(F.col(id_col).isin(query_ids))
    q = query_df.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("query_vec"))
    scored = (
        cand.join(F.broadcast(q))
        .filter(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            cosine(F.col("query_vec"), F.col("cand_vec")).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("query_id", "cand_id", "cosine", F.col("rank").cast("long").alias("rank"))
    )


def sign_bucket(vec: Column, planes: int = 8) -> Column:
    """LSH bucket id from the sign pattern of the first ``planes`` dims.

    Deterministic (no random projection matrix to persist), portable to
    SQL oracles, and cheap: ``planes`` comparisons per row.
    """
    bucket = F.lit(0)
    for i in range(planes):
        bucket = bucket + F.when(F.element_at(vec, i + 1) > 0, F.lit(1 << i)).otherwise(F.lit(0))
    return bucket.cast("long")


def ivf_assign(
    df: DataFrame, id_col: str, vec_col: str, n_centroids: int = 16, max_rank: int = 1
) -> DataFrame:
    """IVF cell assignment: each vector -> its ranked nearest-centroid
    cells, with NO shuffle of the vector set.

    Centroids are the deterministic seed set (``id < n_centroids``) so the
    operator and its SQL oracle agree bit-for-bit; production swaps in
    k-means means. The scale-relevant shape is real: centroids are tiny
    metadata, so they're collected to the driver and broadcast — assignment
    is then one map-side Arrow pass over N vectors (a blocked numpy
    matmul per batch, BLAS throughput; same pattern as
    ``_allpairs_cosine_numpy``). No shuffle of the vector set at all — at
    100 TB this is the difference between a scan and a shuffle+window over
    every vector.

    Output: one row per (vector, centroid) with ``_rn`` = 1-based rank by
    (cosine DESC, centroid id ASC) — same contract as the window version.
    """
    cents = (
        df.filter(F.col(id_col) < n_centroids)
        .select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec"))
        .collect()
    )
    return assign_to_centroids(df, id_col, vec_col, cents, max_rank)


def assign_to_centroids(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    cents: list,
    max_rank: int = 1,
) -> DataFrame:
    """Assignment core shared by :func:`ivf_assign` and the persisted
    index path: rank every vector against an explicit centroid set
    (rows with ``cid``/``cvec``) — broadcast centroids, one map-side
    Arrow pass, no shuffle of the vector set."""
    import numpy as np

    cids = np.array([int(r["cid"]) for r in cents], dtype=np.int64)
    C = np.array([list(r["cvec"]) for r in cents], dtype=np.float64)
    Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
    spark = df.sparkSession
    b_cids = spark.sparkContext.broadcast(cids)
    b_cn = spark.sparkContext.broadcast(Cn)

    src = df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_vec"))
    vec_field = src.schema["_vec"].dataType.simpleString()
    out_schema = f"_id long, _vec {vec_field}, cid long, _sim double, _rn long"

    def _assign(batches):
        import pandas as pd

        kcids, kcn = b_cids.value, b_cn.value
        for pdf in batches:
            if not len(pdf):
                continue
            M = np.stack(pdf["_vec"].map(np.asarray).to_numpy()).astype(np.float64)
            Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
            sims = np.round(Mn @ kcn.T, 6)  # n x K, rounded like cosine()
            out = []
            for i in range(len(pdf)):
                order = np.lexsort((kcids, -sims[i]))[:max_rank]
                for rank, ci in enumerate(order, start=1):
                    out.append(
                        (
                            pdf["_id"].iat[i],
                            pdf["_vec"].iat[i],
                            int(kcids[ci]),
                            float(sims[i, ci]),
                            rank,
                        )
                    )
            yield pd.DataFrame(out, columns=["_id", "_vec", "cid", "_sim", "_rn"])

    return src.mapInPandas(_assign, out_schema)


def ivf_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_df: DataFrame | None = None,
    query_ids_below: int | None = None,
    n_centroids: int = 16,
    nprobe: int = 2,
    top_k: int = 5,
) -> DataFrame:
    """IVF approximate top-k: probe only the query's ``nprobe`` nearest
    cells instead of scanning all N candidates.

    Scale shape: candidate vectors are assigned to exactly one cell
    (rn = 1); a query scores only vectors in its nprobe closest cells, so
    the search join is a hash join on the small-int cell id — work drops
    from O(Q x N) to O(Q x N x nprobe / K), and dense cells are split by
    AQE skew handling. Recall is tuned by ``nprobe`` / ``n_centroids``.
    Zero-norm vectors are excluded (:func:`nonzero_vectors`) — they have
    no cosine direction to assign or rank.
    """
    df = nonzero_vectors(df, vec_col)
    assigned = ivf_assign(df, id_col, vec_col, n_centroids, max_rank=nprobe)
    cand = assigned.filter(F.col("_rn") == 1).select(
        F.col("_id").alias("cand_id"), F.col("_vec").alias("cand_vec"), "cid"
    )
    probes = assigned.filter(F.col("_rn") <= nprobe)
    if query_ids_below is not None:
        probes = probes.filter(F.col("_id") < query_ids_below)
    elif query_df is not None:
        probes = probes.join(
            F.broadcast(query_df.select(F.col(id_col).alias("_id"))), "_id"
        )
    else:
        raise ValueError("provide query_ids_below or query_df")
    q = probes.select(
        F.col("_id").alias("query_id"), F.col("_vec").alias("query_vec"), "cid"
    )
    scored = (
        cand.join(F.broadcast(q), "cid")
        .filter(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            cosine(F.col("query_vec"), F.col("cand_vec")).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("query_id", "cand_id", "cosine", F.col("rank").cast("long").alias("rank"))
    )


@scoped
def cosine_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.4,
    bucketed: bool = False,
    planes: int = 8,
    block_rows: int = 4096,
    driver_allpairs: bool = False,
) -> DataFrame:
    """Embedding near-duplicate pairs: cosine >= threshold, id_a < id_b.

    ``bucketed=False`` (default): exact all-pairs via the DISTRIBUTED
    blocked grid (:func:`_blocked_allpairs_cosine`) — O(N^2) work by
    definition, but no driver-side materialization and per-task memory
    bounded by ``block_rows``. ``driver_allpairs=True`` opts into the
    old driver-broadcast numpy path (small-data oracle mode only; caps
    out around 10^6 vectors and OOMs the driver past that).
    ``bucketed=True``: candidates restricted to equal sign-buckets —
    the sub-quadratic scale path (misses cross-bucket pairs by design;
    raise recall with multi-probe or more planes). Rows are normalized
    once, so the per-pair cost is one dot-product fold.
    """
    df = nonzero_vectors(df, vec_col)
    if not bucketed:
        if driver_allpairs:
            return _allpairs_cosine_numpy(df, id_col, vec_col, threshold)
        return _blocked_allpairs_cosine(df, id_col, vec_col, threshold, block_rows)
    # Persist the per-row norm + bucket projection: without the
    # materialization barrier, Catalyst's projection collapse would inline
    # norm(vec) into the post-join output and re-fold it once per PAIR
    # instead of once per row (measured 5x slower). With it, pair scoring
    # is a single dot fold + scalar divide.
    base = persist(nonzero_vectors(df, vec_col).select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_vec"),
        norm(F.col(vec_col)).alias("_nrm"),
        sign_bucket(F.col(vec_col), planes).alias("bucket"),
    ))
    a = base.select(
        F.col("_id").alias("id_a"), F.col("_vec").alias("vec_a"),
        F.col("_nrm").alias("nrm_a"), "bucket",
    )
    b = base.select(
        F.col("_id").alias("id_b"), F.col("_vec").alias("vec_b"),
        F.col("_nrm").alias("nrm_b"), "bucket",
    )
    return (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                dot(F.col("vec_a"), F.col("vec_b")) / (F.col("nrm_a") * F.col("nrm_b")), 6
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def _blocked_allpairs_cosine(
    df: DataFrame, id_col: str, vec_col: str, threshold: float, block_rows: int = 4096
) -> DataFrame:
    """Exact all-pairs cosine with NO driver-side materialization: the
    standard blocked grid join.

    Rows are hashed into ``B = ceil(N / block_rows)`` blocks; every
    unordered block pair (i <= j) is one grid cell. Each row is fanned
    out to its B cells via a broadcast join against the tiny replication
    map (B x (B+1) rows of metadata — the only thing built on the
    driver), then one ``applyInPandas`` per cell runs a blocked numpy
    matmul (BLAS throughput). Every unordered row pair lands in exactly
    one cell, so the output is identical to the driver-broadcast path.

    Scale shape: shuffle volume is N x B rows (the intrinsic sqrt-grid
    replication cost of exact all-pairs); per-task memory is two blocks
    (~2 x block_rows x d doubles), independent of N. The only driver
    action is a count() to size the grid. Emitted cosines are rounded to
    6 dp, matching the expression/oracle implementations.
    """
    import math

    import numpy as np

    spark = df.sparkSession
    src = df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_vec"))
    n = src.count()
    if n == 0:
        return spark.createDataFrame([], "id_a long, id_b long, cosine double")
    n_blocks = max(1, math.ceil(n / block_rows))
    blocked = src.withColumn(
        "_blk", F.pmod(F.xxhash64(F.col("_id")), F.lit(n_blocks)).cast("int")
    )
    # replication map: block k is side A of cells (k, j >= k) and side B
    # of cells (i < k, k) -> each row fans out to exactly n_blocks cells
    rep = [
        row
        for i in range(n_blocks)
        for j in range(i, n_blocks)
        for row in ([(i, i, j, 0)] + ([(j, i, j, 1)] if j != i else []))
    ]
    rep_df = spark.createDataFrame(rep, "_blk int, _ci int, _cj int, _side int")
    fan = blocked.join(F.broadcast(rep_df), "_blk").drop("_blk")

    def _score(pdf):
        import pandas as pd

        a = pdf[pdf["_side"] == 0]
        ids_a = a["_id"].to_numpy(dtype=np.int64)
        if not len(ids_a):
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
        Ma = np.stack(a["_vec"].map(np.asarray).to_numpy()).astype(np.float64)
        Ma /= np.linalg.norm(Ma, axis=1, keepdims=True)
        b = pdf[pdf["_side"] == 1]
        if len(b):  # off-diagonal cell: A x B, blocks are disjoint
            ids_b = b["_id"].to_numpy(dtype=np.int64)
            Mb = np.stack(b["_vec"].map(np.asarray).to_numpy()).astype(np.float64)
            Mb /= np.linalg.norm(Mb, axis=1, keepdims=True)
            sims = Ma @ Mb.T
            np.round(sims, 6, out=sims)
            ai, bj = np.nonzero(sims >= threshold)
            la, lb = ids_a[ai], ids_b[bj]
        else:  # diagonal cell: within-block upper triangle
            sims = Ma @ Ma.T
            np.round(sims, 6, out=sims)
            ai, bj = np.nonzero((sims >= threshold) & (ids_a[:, None] < ids_a[None, :]))
            la, lb = ids_a[ai], ids_a[bj]
        return pd.DataFrame(
            {
                "id_a": np.minimum(la, lb),
                "id_b": np.maximum(la, lb),
                "cosine": sims[ai, bj],
            }
        )

    return fan.groupBy("_ci", "_cj").applyInPandas(
        _score, "id_a long, id_b long, cosine double"
    )


def _allpairs_cosine_numpy(
    df: DataFrame, id_col: str, vec_col: str, threshold: float
) -> DataFrame:
    """Blocked all-pairs cosine: broadcast the (unit-normalized) matrix,
    stream row blocks through numpy matmul.

    The broadcast side is the whole vector set — fine up to ~10^6 x d
    (hundreds of MB); past that, block BOTH sides (grid cross-join of
    block ids) or use the bucketed LSH path. Emitted cosines are rounded
    to 6 dp, matching the expression/oracle implementations within
    summation-order noise (~1e-13).
    """
    import numpy as np

    spark = df.sparkSession
    rows = df.select(id_col, vec_col).collect()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    order = np.argsort(ids)
    ids, mat = ids[order], mat[order]
    b_ids = spark.sparkContext.broadcast(ids)
    b_mat = spark.sparkContext.broadcast(mat)

    def _block(batches):
        import pandas as pd

        all_ids, all_mat = b_ids.value, b_mat.value
        for pdf in batches:
            bid = pdf[id_col].to_numpy(dtype=np.int64)
            bmat = np.stack(pdf[vec_col].map(np.asarray).to_numpy()).astype(np.float64)
            bmat /= np.linalg.norm(bmat, axis=1, keepdims=True)
            sims = bmat @ all_mat.T
            np.round(sims, 6, out=sims)
            ai, bj = np.nonzero((sims >= threshold) & (bid[:, None] < all_ids[None, :]))
            yield pd.DataFrame(
                {"id_a": bid[ai], "id_b": all_ids[bj], "cosine": sims[ai, bj]}
            )

    return df.select(id_col, vec_col).mapInPandas(
        _block, "id_a long, id_b long, cosine double"
    )


# ---------------------------------------------------------------------------
# Centroid training + vector quantization (the embedding-store side ops)
# ---------------------------------------------------------------------------


def label_centroids(
    df: DataFrame,
    label_col: str,
    vec_col: str,
    scale: int = 1_000_000,
) -> DataFrame:
    """Per-label dimension-wise centroid — the training step behind IVF
    cells / class prototypes: ``(label, dim, n, centroid)`` in long form.

    Determinism: float sums are accumulation-order dependent, so each
    element is first snapped to fixed point (``ROUND(x * scale)`` as
    BIGINT — exact and order-free under integer SUM). The mean is then
    rounded half-away-from-zero to ``scale`` fixed point ENTIRELY IN
    INTEGER arithmetic (``(2|S| + n) div (2n)``, sign reapplied) and
    only converted to double by one exact-input IEEE division at the
    end. An earlier version rounded a double mean with ``ROUND(x, 6)``
    — Spark's BigDecimal HALF_UP and DuckDB's float rounding disagree
    on half-way mantissas, which a cross-distribution sweep caught as a
    1-ulp centroid mismatch (and a propagated wrong nearest-cell
    assignment downstream). Headroom: |S| < n * scale * max|x|, so the
    ``2*S`` intermediate is safe for corpora up to ~1e12 rows of
    unit-scale embeddings.

    Scale shape: posexplode -> one partial-agg'd groupBy(label, dim).
    Shuffle volume is (labels x dims) partial rows per task — dimensions
    are in the key, so a 1000-executor run shuffles kilobytes, never
    vectors. No driver materialization (contrast: ivf_assign collects
    only pre-trained centroids; this op trains them distributed).
    """
    e = df.select(F.col(label_col), F.posexplode(F.col(vec_col)).alias("dim", "_v"))
    fixed = F.round(F.col("_v").cast("double") * scale).cast("long")
    agg = e.groupBy(label_col, "dim").agg(
        F.count(F.lit(1)).alias("n"), F.sum(fixed).alias("_s")
    )
    half_away_e = F.when(
        F.col("_s") >= 0, F.expr("(2 * _s + n) div (2 * n)")
    ).otherwise(-F.expr("(2 * (-_s) + n) div (2 * n)"))
    return agg.select(
        F.col(label_col),
        F.col("dim").cast("long").alias("dim"),
        F.col("n").cast("long").alias("n"),
        (half_away_e.cast("double") / scale).alias("centroid"),
    )


def label_centroids_sql(
    table: str,
    label_col: str,
    vec_col: str,
    dim: int,
    scale: int = 1_000_000,
) -> str:
    """DuckDB twin: same fixed-point snap, same INTEGER half-away mean
    (see :func:`label_centroids` — a double ROUND here diverges between
    engines on half-way mantissas), one final exact-input double
    division. ``dim`` is the (known) vector length; DuckDB lists are
    1-indexed, the Spark posexplode dim is 0-based — aligned here."""
    elem = f"{vec_col}[CAST(i + 1 AS INT)]"
    fixed = f"CAST(ROUND(CAST({elem} AS DOUBLE) * {scale}) AS BIGINT)"
    return f"""
    SELECT {label_col},
           CAST(i AS BIGINT) AS dim,
           CAST(n AS BIGINT) AS n,
           CAST(CASE WHEN s >= 0 THEN (2 * s + n) // (2 * n)
                     ELSE -((2 * (-s) + n) // (2 * n)) END AS DOUBLE)
             / {scale} AS centroid
    FROM (SELECT {label_col}, i, COUNT(*) AS n,
                 CAST(SUM({fixed}) AS BIGINT) AS s
          FROM {table} CROSS JOIN range(0, {dim}) r(i)
          GROUP BY 1, 2)
    """


def quantize_int8(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    decimals: int = 6,
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """Symmetric int8 quantization per vector (the embedding-store
    compression op): ``q[i] = round(v[i] * 127 / max|v|)``, emitted with
    the rounded scale so consumers can dequantize. Zero vectors get
    scale 0.0 and an all-zero code.

    Pure per-row array expressions — no shuffle, no Python; 4x storage
    cut before the vectors ever hit an index or shard writer. By
    construction |q[i]| <= 127, so no clip branch is needed.
    """
    absmax = F.array_max(F.transform(F.col(vec_col), lambda x: F.abs(x.cast("double"))))
    scale = F.when(absmax > 0, F.lit(127.0) / absmax).otherwise(F.lit(0.0))
    qvec = F.transform(
        F.col(vec_col), lambda x: F.round(x.cast("double") * scale).cast("int")
    )
    return df.select(
        F.col(id_col),
        *[F.col(c) for c in (extra_cols or [])],
        F.round(scale, decimals).alias("qscale"),
        qvec.alias("qvec"),
    )


def quantize_int8_sql(
    table: str,
    id_col: str,
    vec_col: str,
    decimals: int = 6,
    extra_cols: list[str] | None = None,
) -> str:
    """DuckDB twin (same guard, same op order; ROUND-then-CAST so the
    engines' double->int conversion rules never see a fraction)."""
    absmax = f"list_max(list_transform({vec_col}, x -> abs(CAST(x AS DOUBLE))))"
    scale = f"CASE WHEN {absmax} > 0 THEN 127.0 / {absmax} ELSE 0.0 END"
    qvec = (
        f"list_transform({vec_col}, "
        f"x -> CAST(ROUND(CAST(x AS DOUBLE) * ({scale})) AS INTEGER))"
    )
    extras = "".join(f"{c}, " for c in (extra_cols or []))
    return f"""
    SELECT {id_col}, {extras}
           ROUND({scale}, {decimals}) AS qscale,
           {qvec} AS qvec
    FROM {table}
    """


def balanced_sample_by_centroid(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    cap: int = 50,
    scale: int = 1_000_000,
    salt: str = "cbal",
) -> DataFrame:
    """Cluster-balanced curation sample: assign every vector to its
    NEAREST trained centroid, then keep a deterministic cap of rows per
    cell — the "balance the semantic clusters" step (over-represented
    clusters get truncated, rare ones survive whole), the sampling
    counterpart of semantic dedup.

    Exactness: centroids come from :func:`label_centroids` (fixed-point
    means rounded to 6 decimals — cross-engine exact), and distances are
    computed in SNAPPED integer space: both the vector and the centroid
    are scaled by ``scale`` and rounded to BIGINT, so the squared-L2
    distance is an exact integer SUM — order-free, no float comparisons
    anywhere in the argmin. Ties (equal distance) break by cell id.

    Scale shape: the centroid table is K-bounded -> broadcast fanout of
    K rows per vector, argmin via ``min(struct(dist, cell))`` in ONE
    partial-agg'd groupBy (no window over the fanout); the per-cell cap
    is one window over the assigned (vector-count) rows ordered by a
    salted hash — deterministic, layout-independent.

    Output: (id, cell, dist_sq_e12, rank), rank 1..cap within cell.
    """
    from .sampling import hash_bucket

    # one shared assignment implementation with semantic_dedup_pairs —
    # only the retained columns differ (dist here, snapped vector there)
    best = _assign_nearest_cell(
        df, id_col, vec_col, label_col, scale, with_vec=False
    ).withColumnRenamed("dist_sq", "dist_sq_e12")
    w = Window.partitionBy("cell").orderBy(
        hash_bucket(F.col(id_col), 2**31, salt), F.col(id_col)
    )
    return (
        best.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= cap)
        .select(id_col, "cell", "dist_sq_e12", "rank")
    )


def _assign_nearest_cell(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    scale: int,
    with_vec: bool = True,
) -> DataFrame:
    """Every vector assigned to its nearest trained centroid in exact
    ``scale``-fixed-point integer squared-L2 — the ONE assignment
    implementation shared by :func:`balanced_sample_by_centroid` and
    :func:`semantic_dedup_pairs`. ``with_vec=True`` returns
    (id, cell, _e6) with the snapped vector joined back by id (the
    K-fanout never ships K vector copies); ``with_vec=False`` skips
    that join and returns (id, cell, dist_sq) for callers that only
    need the assignment + distance."""
    cent = label_centroids(df, label_col, vec_col, scale=scale)
    carr = cent.groupBy(label_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "centroid"))),
            lambda s: F.round(s["centroid"] * scale).cast("long"),
        ).alias("_c6")
    ).select(F.col(label_col).alias("cell"), "_c6")
    e6 = F.transform(
        F.col(vec_col), lambda x: F.round(x.cast("double") * scale).cast("long")
    )
    # the K-way distance fan-out below is scan-stage per-row work over a
    # broadcast — fan the narrow (id, vec) projection out first so a
    # small input uses every core (r12; no-op at scale)
    evec = fan_out_scan(df.select(F.col(id_col), e6.alias("_e6")), id_col)
    pairs = evec.crossJoin(F.broadcast(carr))
    dist = F.aggregate(
        F.zip_with(F.col("_e6"), F.col("_c6"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    # argmin carries only (dist, cell) through the shuffle — the K-fanout
    # never ships K copies of the vector; _e6 joins back by id afterwards
    best = (
        pairs.select(F.col(id_col), F.struct(dist.alias("d"), F.col("cell")).alias("_dc"))
        .groupBy(id_col)
        .agg(F.min("_dc").alias("_m"))
        .select(
            F.col(id_col),
            F.col("_m.cell").alias("cell"),
            F.col("_m.d").alias("dist_sq"),
        )
    )
    if not with_vec:
        return best
    return best.join(evec, id_col).select(id_col, "cell", "_e6")


@scoped
def semantic_dedup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    threshold: float = 0.9,
    scale: int = 1_000_000,
) -> DataFrame:
    """SemDeDup-style semantic near-dup pairs: vectors are assigned to
    their nearest trained centroid, and cosine is computed ONLY within
    each cell — the centroid partition is the candidate blocker, so
    pair cost is sum(cell²), never corpus², and tightens with more
    centroids (at 100 TB you train thousands of cells; the plan is
    unchanged).

    Exactness: dot products run over the ``scale``-snapped integer
    vectors — exact BIGINT sums — and the cosine is two float ops
    (sqrt + divide) on those exact integers, rounded to 6 decimals;
    cross-engine identical.

    Output: (id_a, id_b, cell, cosine) with id_a < id_b,
    cosine >= threshold.
    """
    assigned = _assign_nearest_cell(df, id_col, vec_col, label_col, scale)
    norm = F.aggregate(
        F.zip_with(F.col("_e6"), F.col("_e6"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    # zero SNAPPED norm (all-zero or sub-1/scale vector) has no cosine
    # direction — exclude on the snapped criterion (a doubles-norm guard
    # would pass a 1e-12 vector that still snaps to zero and divide by 0)
    # materialize the assignment ONCE: both pair-join sides consume it,
    # and without the persist the whole centroid+argmin+join pipeline
    # re-executes per side (measured 2.9 s -> 0.4 s warm at sf0.1)
    sided = persist(
        assigned.select(F.col(id_col), "cell", "_e6", norm.alias("_n")).filter(
            F.col("_n") > 0
        )
    )
    a = sided.select(
        F.col(id_col).alias("id_a"), "cell",
        F.col("_e6").alias("_ea"), F.col("_n").alias("_na"),
    )
    b = sided.select(
        F.col(id_col).alias("id_b"), "cell",
        F.col("_e6").alias("_eb"), F.col("_n").alias("_nb"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("_ea"), F.col("_eb"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    cos = F.round(
        dot.cast("double")
        / F.sqrt(F.col("_na").cast("double") * F.col("_nb").cast("double")),
        6,
    )
    # The cell key is deliberately low-cardinality relative to cores on
    # a small/medium corpus (K trained cells), so a plain join on "cell"
    # caps the pair-enumeration stage at K busy tasks and concentrates
    # the quadratic per-cell dot-product work (guide §2.5 hot keys).
    # Salting the a-side spreads each cell's pair enumeration over
    # salt_buckets reducers. Honest cost accounting (ADVICE r12 #3): the
    # b-side — the WHOLE sided vector frame, not K rows — is replicated
    # salt_buckets(=8)x through the shuffle. That trade is right when
    # cells are few relative to cores (the skew this fixes); a
    # deployment with K >> cores pays 8x b-side shuffle for no
    # parallelism it didn't already have, and should pass the pair join
    # unsalted — at that K the per-cell quadratic work is already
    # spread. Result-identity is pinned by
    # test_salted_join_matches_plain_join.
    from .joins import salted_join

    return (
        salted_join(a, b, ["cell"], salt_buckets=8)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cell", "cosine")
    )


def _nearest_cell_sql(
    table: str, id_col: str, vec_col: str, label_col: str, dim: int, scale: int
) -> str:
    """CTE chain ``_nc_best(id, cell)`` + ``_nc_e(id, _e6)`` — the
    DuckDB twin of :func:`_assign_nearest_cell`."""
    cent = label_centroids_sql(table, label_col, vec_col, dim, scale=scale)
    i = "CAST(i AS INT)"
    diff = f"(e._e6[{i}] - c._c6[{i}])"
    return f"""
    _nc_cent AS ({cent}),
    _nc_carr AS (SELECT {label_col} AS cell,
                        list(CAST(ROUND(centroid * {scale}) AS BIGINT) ORDER BY dim) AS _c6
                 FROM _nc_cent GROUP BY 1),
    _nc_e AS (SELECT {id_col},
                     list_transform({vec_col},
                                    x -> CAST(ROUND(CAST(x AS DOUBLE) * {scale}) AS BIGINT)) AS _e6
              FROM {table}),
    _nc_d AS (SELECT e.{id_col}, c.cell,
                     CAST(list_sum(list_transform(range(1, {dim} + 1),
                                                  i -> {diff} * {diff})) AS BIGINT) AS d
              FROM _nc_e e CROSS JOIN _nc_carr c),
    _nc_best AS (SELECT {id_col}, cell
                 FROM (SELECT *, row_number() OVER (PARTITION BY {id_col}
                                                    ORDER BY d, cell) AS _rn
                       FROM _nc_d)
                 WHERE _rn = 1)
    """


def semantic_dedup_pairs_sql(
    table: str,
    id_col: str,
    vec_col: str,
    label_col: str,
    dim: int,
    threshold: float = 0.9,
    scale: int = 1_000_000,
) -> str:
    """DuckDB twin of :func:`semantic_dedup_pairs`."""
    assign = _nearest_cell_sql(table, id_col, vec_col, label_col, dim, scale)
    i = "CAST(i AS INT)"
    return f"""
    WITH {assign},
    _sd_side AS (SELECT * FROM (
                   SELECT b.{id_col}, b.cell, e._e6,
                          CAST(list_sum(list_transform(range(1, {dim} + 1),
                                                       i -> e._e6[{i}] * e._e6[{i}])) AS BIGINT) AS _n
                   FROM _nc_best b JOIN _nc_e e USING ({id_col}))
                 WHERE _n > 0),
    _sd_pairs AS (
      SELECT a.{id_col} AS id_a, b.{id_col} AS id_b, a.cell,
             ROUND(CAST(list_sum(list_transform(range(1, {dim} + 1),
                                  i -> a._e6[{i}] * b._e6[{i}])) AS DOUBLE)
                   / sqrt(CAST(a._n AS DOUBLE) * CAST(b._n AS DOUBLE)), 6) AS cosine
      FROM _sd_side a JOIN _sd_side b
        ON a.cell = b.cell AND a.{id_col} < b.{id_col}
    )
    SELECT id_a, id_b, cell, cosine FROM _sd_pairs WHERE cosine >= {threshold}
    """


def balanced_sample_by_centroid_sql(
    table: str,
    id_col: str,
    vec_col: str,
    label_col: str,
    dim: int,
    cap: int = 50,
    scale: int = 1_000_000,
    salt: str = "cbal",
) -> str:
    """DuckDB twin of :func:`balanced_sample_by_centroid` — identical
    fixed-point snap, exact integer distances, same tie-breaks."""
    from .sampling import hash_bucket_sql

    cent = label_centroids_sql(table, label_col, vec_col, dim, scale=scale)
    i = "CAST(i AS INT)"
    diff = f"(e._e6[{i}] - c._c6[{i}])"
    return f"""
    WITH _cb_cent AS ({cent}),
    _cb_carr AS (SELECT {label_col} AS cell,
                        list(CAST(ROUND(centroid * {scale}) AS BIGINT) ORDER BY dim) AS _c6
                 FROM _cb_cent GROUP BY 1),
    _cb_e AS (SELECT {id_col},
                     list_transform({vec_col},
                                    x -> CAST(ROUND(CAST(x AS DOUBLE) * {scale}) AS BIGINT)) AS _e6
              FROM {table}),
    _cb_d AS (SELECT e.{id_col}, c.cell,
                     CAST(list_sum(list_transform(range(1, {dim} + 1),
                                                  i -> {diff} * {diff})) AS BIGINT) AS d
              FROM _cb_e e CROSS JOIN _cb_carr c),
    _cb_best AS (SELECT {id_col}, cell, d
                 FROM (SELECT *, row_number() OVER (PARTITION BY {id_col}
                                                    ORDER BY d, cell) AS _rn
                       FROM _cb_d)
                 WHERE _rn = 1),
    _cb_rk AS (SELECT {id_col}, cell, d AS dist_sq_e12,
                      CAST(row_number() OVER (
                        PARTITION BY cell
                        ORDER BY {hash_bucket_sql(id_col, 2**31, salt)}, {id_col}
                      ) AS BIGINT) AS rank
               FROM _cb_best)
    SELECT {id_col}, cell, dist_sq_e12, rank FROM _cb_rk WHERE rank <= {cap}
    """


# ---------------------------------------------------------------------------
# Multi-probe sign-bucket LSH
# ---------------------------------------------------------------------------


@scoped
def cosine_multiprobe_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.3,
    planes: int = 8,
) -> DataFrame:
    """Sign-bucket LSH pairs with 1-bit multi-probe: candidates are pairs
    whose bucket ids are EQUAL or differ in exactly one plane — the
    standard recall lever (Lv et al., VLDB'07) that widens each query to
    its ``planes`` neighboring buckets instead of adding hash tables.

    vs :func:`cosine_near_dup_pairs` ``bucketed=True`` (exact-bucket
    only): recall rises because near-identical vectors that straddle ONE
    hyperplane are no longer lost; candidate volume grows ~(planes+1)x —
    still sub-quadratic, versus the 2x-planes cost of doubling recall by
    re-hashing.

    Plan shape: the probe side explodes each row to ``planes + 1`` probe
    keys (its own bucket + the ``planes`` one-bit flips); ONE hash
    equi-join (probe = bucket) with the non-exploded side. A pair at
    hamming distance 0 or 1 matches on exactly one probe key, so no
    dedup pass is needed. Norms are computed once per row behind a
    persist barrier (same projection-collapse guard as the bucketed
    path).
    """
    base = persist(nonzero_vectors(df, vec_col).select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_vec"),
        norm(F.col(vec_col)).alias("_nrm"),
        sign_bucket(F.col(vec_col), planes).alias("bucket"),
    ))
    probes = F.array(
        F.col("bucket"), *[F.col("bucket").bitwiseXOR(F.lit(1 << i)) for i in range(planes)]
    )
    a = base.select(
        F.col("_id").alias("id_a"), F.col("_vec").alias("vec_a"),
        F.col("_nrm").alias("nrm_a"), "bucket",
    )
    b = base.select(
        F.col("_id").alias("id_b"), F.col("_vec").alias("vec_b"),
        F.col("_nrm").alias("nrm_b"), F.explode(probes).alias("bucket"),
    )
    return (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                dot(F.col("vec_a"), F.col("vec_b")) / (F.col("nrm_a") * F.col("nrm_b")), 6
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def multiprobe_sql(
    table: str, id_col: str, bucket_expr: str, planes: int = 8
) -> str:
    """DuckDB twin of the probe expansion: emits ``mp_a`` (plain bucket
    side) and ``mp_b`` (exploded probe side) CTE bodies; join
    ``mp_a.bucket = mp_b.probe``."""
    flips = ", ".join(f"xor(bucket, {1 << i})" for i in range(planes))
    return f"""
    kb AS (SELECT {id_col}, v, CAST({bucket_expr} AS BIGINT) AS bucket FROM {table}),
    mp_b AS (SELECT {id_col}, v, unnest([bucket, {flips}]) AS probe FROM kb)"""


# ---------------------------------------------------------------------------
# Persisted IVF index (build once, probe many)
# ---------------------------------------------------------------------------

#: On-disk layout version of the IVF index tree. Bump WHENEVER
#: ivf_build_index's layout or constants change — cached_index_dir folds
#: this into its cache key, so a bump invalidates every stale cache by
#: construction (r9 lesson: hand-bumped params suffixes don't).
IVF_LAYOUT_VERSION = 1


def ivf_build_index(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    path: str,
    n_centroids: int = 16,
) -> None:
    """Persist an IVF index: vectors parquet PARTITIONED BY their
    nearest-centroid cell id, plus the centroid table — the
    build-once/probe-many serving layout.

    The cell partitioning is the whole point: a query probing ``nprobe``
    cells reads ONLY those partition directories (Spark partition
    pruning), i.e. ~``nprobe / n_centroids`` of the corpus instead of a
    full scan. Centroids here are the same deterministic seed set as
    :func:`ivf_assign` (production swaps in trained means, e.g.
    ``label_centroids``) — what matters for scale is the layout.
    """
    from pathlib import Path

    df = nonzero_vectors(df, vec_col)  # no direction -> not indexable
    cents = (
        df.filter(F.col(id_col) < n_centroids)
        .select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec"))
    )
    from ..sources.manifest import manifest_txn

    with manifest_txn(path):
        cents.coalesce(1).write.mode("overwrite").parquet(
            str(Path(path) / "centroids")
        )
        assigned = assign_to_centroids(
            df, id_col, vec_col, cents.collect(), max_rank=1
        )
        (
            assigned.select(
                F.col("_id").alias(id_col), F.col("_vec").alias(vec_col), "cid"
            )
            .write.mode("overwrite")
            .partitionBy("cid")
            .parquet(str(Path(path) / "cells"))
        )


def ivf_query_index(
    spark,
    path: str,
    query_df: DataFrame,
    id_col: str,
    vec_col: str,
    nprobe: int = 2,
    top_k: int = 5,
    snapshot: dict | None = None,
) -> DataFrame:
    """Probe a persisted IVF index: assign each query to its ``nprobe``
    nearest cells (broadcast centroid metadata, map-side), then join
    ONLY those cells' partitions (partition pruning on ``cid``) and
    rank candidates by cosine. Output: (query_id, neighbor id, cosine,
    rank) — same contract as :func:`ivf_topk`.
    """
    from pyspark.sql import Window

    from ..sources.manifest import latest_manifest, manifest_read

    # centroids + cells pinned to ONE manifest generation (reader-atomic
    # under a concurrent append);
    # ``snapshot`` (latest_manifest/manifest_at) time-travels the read.
    # No snapshot at all = lost bootstrap commit (crash window): raise
    # rather than fall through to an unpinned plain-directory read.
    snap = snapshot if snapshot is not None else latest_manifest(path)
    if snap is None:
        raise RuntimeError(
            f"ivf_query_index: no published manifest snapshot under "
            f"{path!r}; bootstrap with ivf_build_index first"
        )
    cents = manifest_read(spark, path, "centroids", snapshot=snap).collect()
    probes = assign_to_centroids(
        nonzero_vectors(query_df, vec_col), id_col, vec_col, cents, max_rank=nprobe
    ).select(
        F.col("_id").alias("query_id"), F.col("_vec").alias("qvec"), "cid"
    )
    cells = manifest_read(spark, path, "cells", snapshot=snap)
    cand = cells.join(F.broadcast(probes), "cid").filter(
        F.col(id_col) != F.col("query_id")
    )
    scored = cand.select(
        "query_id",
        F.col(id_col).alias("cand_id"),
        cosine(F.col(vec_col), F.col("qvec")).alias("cosine"),
    )
    # a repeated append (e.g. a replayed batch: crash between
    # ivf_append_index and the caller's commit) leaves duplicate
    # (id, vec) rows in a cell;
    # without this dedup each copy occupies its own rank and displaces a
    # true neighbor from the top-k. Rows for a duplicated id are
    # identical (cosine is a deterministic function of the pair, rounded
    # to 6 decimals), so dropDuplicates on the pair key is exact — the
    # IVF twin of lsh_query_index's distinct()/collect_set dedup.
    scored = scored.dropDuplicates(["query_id", "cand_id"])
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("cand_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select(
            "query_id", "cand_id", "cosine", F.col("rank").cast("long").alias("rank")
        )
    )


def ivf_append_index(
    spark,
    df: DataFrame,
    id_col: str,
    vec_col: str,
    path: str,
) -> None:
    """Fold new vectors into a persisted IVF index WITHOUT rebuilding
    (the ANN twin of ``bm25_append_index``). The batch is assigned
    to the index's EXISTING centroids (read from disk — bounded k x dim
    metadata, never recomputed, so cell geometry is stable across
    appends) and its rows append into the matching cell partitions;
    probe-time partition pruning is untouched and append-then-query is
    identical to a full rebuild over the same centroid set
    (pytest-pinned).

    Caller contract: ids must not already exist in the index (append is
    blind by design; a membership check would re-scan the corpus)."""
    from pathlib import Path

    from ..sources.manifest import latest_manifest, manifest_read, manifest_txn

    snap = latest_manifest(path)
    if snap is None:
        # Half-bootstrapped tree (data written, manifest commit lost):
        # the caller must re-bootstrap, not append against whatever
        # centroid files happen to be on disk — same rule as
        # ivfpq_append_index.
        raise RuntimeError(
            f"ivf_append_index: no published manifest snapshot under "
            f"{path!r}; bootstrap with ivf_build_index first"
        )
    cents = manifest_read(spark, path, "centroids", snapshot=snap).collect()
    assigned = assign_to_centroids(
        nonzero_vectors(df, vec_col), id_col, vec_col, cents, max_rank=1
    )
    with manifest_txn(path):
        (
            assigned.select(
                F.col("_id").alias(id_col), F.col("_vec").alias(vec_col), "cid"
            )
            .write.mode("append")
            .partitionBy("cid")
            .parquet(str(Path(path) / "cells"))
        )


# ---------------------------------------------------------------------------
# Deterministic sign random projection (RP sketch + RP-LSH bucket)
# ---------------------------------------------------------------------------


def _rp_signs(out_dims: int, in_dims: int, seed: str = "rp") -> list[list[int]]:
    """+/-1 projection matrix derived from md5 — deterministic, engine-
    independent (computed ONCE at plan build; both the Spark plan and
    the SQL oracle receive the same literals, so no cross-engine hash
    parity is needed)."""
    import hashlib

    return [
        [
            1 if int(hashlib.md5(f"{seed}:{j}:{i}".encode()).hexdigest()[:8], 16) % 2 == 0 else -1
            for i in range(in_dims)
        ]
        for j in range(out_dims)
    ]


def random_projection(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    in_dims: int,
    out_dims: int = 4,
    scale: int = 1000,
    seed: str = "rp",
) -> DataFrame:
    """Shuffle-free sign random projection: each vector is reduced to
    ``out_dims`` integer components p_j = sum_i sign_ij * round(v_i *
    scale), plus ``rp_bucket`` — the sign pattern of the projections,
    i.e. a true random-hyperplane LSH key (unlike :func:`sign_bucket`,
    which thresholds raw leading dimensions, this mixes ALL input dims
    into every bit, so correlated/low-variance leading dims can't skew
    the bucket distribution).

    Vectors are quantized to integers FIRST (round(v*scale)), so the
    fold is exact BIGINT arithmetic — identical in any engine and any
    accumulation order. Map-only projection: at 100 TB this runs at
    scan speed with zero exchanges.
    """
    signs = _rp_signs(out_dims, in_dims, seed)
    q = F.transform(
        _dvec(F.col(vec_col)), lambda x: F.round(x * F.lit(scale)).cast("long")
    )
    proj_cols = []
    for j in range(out_dims):
        lit_signs = F.array(*[F.lit(s) for s in signs[j]])
        p = F.aggregate(
            F.zip_with(q, lit_signs, lambda x, s: x * s),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        proj_cols.append(p.alias(f"p{j}"))
    out = df.select(F.col(id_col), *proj_cols)
    bucket = F.lit(0)
    for j in range(out_dims):
        bucket = bucket + F.when(F.col(f"p{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
    return out.withColumn("rp_bucket", bucket.cast("long"))


def random_projection_sql(
    table: str,
    id_col: str,
    vec_col: str,
    in_dims: int,
    out_dims: int = 4,
    scale: int = 1000,
    seed: str = "rp",
) -> str:
    """CTE chain ending in `rp` mirroring :func:`random_projection` —
    the +/-1 literals are generated from the SAME seed."""
    signs = _rp_signs(out_dims, in_dims, seed)
    projs = []
    for j in range(out_dims):
        terms = " ".join(
            f"{'+' if s > 0 else '-'} qv[{i + 1}]" for i, s in enumerate(signs[j])
        )
        projs.append(f"CAST(0 {terms} AS BIGINT) AS p{j}")
    bucket = " + ".join(
        f"(CASE WHEN p{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(out_dims)
    )
    return f"""qv AS (
      SELECT {id_col},
             list_transform(CAST({vec_col} AS DOUBLE[]),
                            x -> CAST(round(x * {scale}) AS BIGINT)) AS qv
      FROM {table}
    ),
    rp_p AS (SELECT {id_col}, {', '.join(projs)} FROM qv),
    rp AS (SELECT {id_col}, {', '.join(f'p{j}' for j in range(out_dims))},
                  CAST({bucket} AS BIGINT) AS rp_bucket
           FROM rp_p)"""


# ---------------------------------------------------------------------------
# Approximate kNN graph (LSH-bucketed, per-node top-k)
# ---------------------------------------------------------------------------


def knn_graph(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    top_k: int = 3,
    planes: int = 8,
) -> DataFrame:
    """Directed approximate kNN graph: for every vector, its ``top_k``
    most-cosine-similar neighbors among SAME-LSH-BUCKET candidates
    (sign-bucket, ``planes`` bits). The per-node edge list is the input
    to graph-based curation (SemDeDup-style cluster pruning, community
    detection, label propagation via :mod:`.graph`).

    Scale shape: one hash equi-join on the bucket key (candidate volume
    ~ N^2 / 2^planes, tuned by ``planes``), then one window partitioned
    by source node. No all-pairs stage; nodes whose bucket has no other
    member simply emit no edges (standard LSH-graph behavior — raise
    ``planes`` recall via multiprobe if needed).
    """
    kb = nonzero_vectors(df, vec_col).select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_vec"),
        sign_bucket(F.col(vec_col), planes).alias("bucket"),
    )
    a = kb.select(F.col("_id").alias("src"), F.col("_vec").alias("vec_a"), "bucket")
    b = kb.select(F.col("_id").alias("dst"), F.col("_vec").alias("vec_b"), "bucket")
    scored = (
        a.join(b, "bucket")
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst", cosine(F.col("vec_a"), F.col("vec_b")).alias("cosine"))
    )
    w = Window.partitionBy("src").orderBy(F.col("cosine").desc(), F.col("dst"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= top_k)
    )


def knn_graph_sql(
    table: str, id_col: str, bucket_expr: str, top_k: int = 3
) -> str:
    """CTE chain ending in `knn` mirroring :func:`knn_graph`; expects a
    CTE `e(vec_id, v)` with DOUBLE[] vectors in scope."""
    cos = COSINE_AB_SQL
    return f"""kb AS (SELECT {id_col}, v, CAST({bucket_expr} AS BIGINT) AS bucket FROM {table}),
    knn_scored AS (
      SELECT a.{id_col} AS src, b.{id_col} AS dst, {cos} AS cosine
      FROM kb a JOIN kb b ON a.bucket = b.bucket AND a.{id_col} <> b.{id_col}
    ),
    knn AS (
      SELECT src, dst, cosine,
             CAST(row_number() OVER (PARTITION BY src ORDER BY cosine DESC, dst) AS BIGINT) AS rank
      FROM knn_scored
      QUALIFY rank <= {top_k}
    )"""

"""Product quantization (PQ) for embedding compression + ADC top-k search.

The missing third leg of the ANN stack next to the sign-bucket LSH and
IVF operators in similarity.py: at 100 TB an fp32 embedding store does
not fit anywhere useful, so production ANN (Faiss IVFADC; Jegou et al.,
"Product Quantization for Nearest Neighbor Search", TPAMI 2011) stores
each vector as m sub-space code bytes and scans codes with per-query
lookup tables (asymmetric distance computation — the query stays exact,
only candidates are quantized). 64-dim fp32 → 16 4-bit codes (8
bytes) in the catalog config, a 32x store shrink; distance evaluation
per candidate collapses from a dim-length dot product to m table
lookups.

Built on the SAME exact fixed-point discipline as clustering.py's
kmeans_lloyd (elements snapped to 1e-6 units; BIGINT squared-L2; argmin
via (dist, cid) lexicographic min; floor-divided integer centroid means;
md5(id)-ranked deterministic seeding), generalized to train all m
sub-space codebooks JOINTLY:

- the Lloyd rounds ship the m*ksub centroids as broadcast DATA and
  argmin under partial aggregation (skinny (id, sub, cid) rows on the
  wire) — with 256 centroids an inlined-literal argmin overflows the
  JVM's 64 KB codegen method limit AND costs seconds of optimizer time
  per round (both measured), while the data formulation keeps one
  small, plan-cache-friendly shape across rounds;
- the Lloyd update is ONE (sub, cid, dim)-keyed partial-agg shuffle of
  m * ksub * dsub rows per round (kilobytes), regardless of data size;
- only the codebook (m * ksub * dsub integers) ever reaches the driver —
  the same bounded-collect contract as kmeans/PageRank;
- the bulk ENCODE is a map-only Arrow stage (vectorized int64 numpy
  argmin per batch — no shuffle, no codegen limits), with an all-JVM
  broadcast-join twin pinned bit-identical (a cross-engine int64
  parity check in itself);
- the ADC scan computes per-query LUTs (m * ksub exact BIGINT
  sub-distances) DRIVER-side from the bounded query set — the query
  path of every production ANN server — and broadcasts them against
  the code table; distance is m element_at lookups summed in codegen.

Every step is exact integer arithmetic, so the DuckDB oracle replays
training, encoding, and the ADC scan bit-for-bit (the *_sql builders
unroll the Lloyd rounds into CTE chains, the same shape as
kmeans_lloyd_sql).

Reference scope note: the reference engine (spark-streaming-kafka-
bucket-counter, main.py) has no vector search; this module is part of
the beyond-reference LLM-pipeline surface (SURVEY.md "similarity
search" ask).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ._cache import persist, scope, scoped

__all__ = [
    "pq_train",
    "pq_encode",
    "pq_adc_topk",
    "pq_recall_eval",
    "ivfpq_topk",
    "residual_frame",
    "ivfpq_residual_topk",
    "ivfpq_recall_eval",
    "ivfpq_build_index",
    "ivfpq_append_index",
    "ivfpq_query_index",
    "pq_codes_sql",
    "pq_adc_topk_sql",
    "pq_recall_sql",
    "ivfpq_topk_sql",
    "ivfpq_residual_topk_sql",
    "ivfpq_recall_sql",
    "ivfpq_trained_topk",
    "ivfpq_trained_residual_topk",
    "ivfpq_trained_recall_eval",
    "trained_residual_frame",
    "ivfpq_trained_topk_sql",
    "ivfpq_trained_recall_sql",
    "ivfpq_probe_frontier",
    "ivfpq_probe_frontier_sql",
    "rotate_vectors",
    "exact_l2_truth",
    "recall_truth",
]

Codebook = dict[tuple[int, int], list[int]]  # (sub, cid) -> dsub fixed-point coords


def _fixed_vecs(df: DataFrame, id_col: str, vec_col: str, scale: int,
                already_fixed: bool = False) -> DataFrame:
    """(id, v): the vector column snapped to exact fixed-point BIGINTs.
    ``already_fixed`` passes a column that IS fixed-point (residuals —
    differences of snapped values) through untouched: re-snapping would
    scale it twice."""
    if already_fixed:
        return df.select(
            F.col(id_col).alias("id"),
            F.transform(F.col(vec_col), lambda x: x.cast("long")).alias("v"),
        )
    return df.select(
        F.col(id_col).alias("id"),
        F.transform(
            F.col(vec_col), lambda x: F.round(x.cast("double") * scale).cast("long")
        ).alias("v"),
    )


def _sub_sq_dist_py(v: list[int], sub: int, dsub: int, centroid: list[int]) -> int:
    """Exact squared-L2 between sub-space `sub` of a fixed-point vector
    and a sub-centroid, in unbounded Python ints (driver-side: LUT
    construction over the bounded query set)."""
    off = sub * dsub
    return sum((int(v[off + j]) - int(cj)) ** 2 for j, cj in enumerate(centroid))


def _driver_lut_frame(spark, qrows, books: Codebook, m: int, ksub: int,
                      dsub: int) -> DataFrame:
    """(query_id, lut array<array<long>>): per-query ADC lookup tables
    computed driver-side in exact Python ints from collected fixed-point
    query rows (bounded by construction — the request payload of a real
    ANN server), ready to broadcast against a code table."""
    lut_rows = [
        (
            int(r["id"]),
            [
                [_sub_sq_dist_py(r["v"], s, dsub, books[(s, c)]) for c in range(ksub)]
                for s in range(m)
            ],
        )
        for r in qrows
    ]
    return spark.createDataFrame(lut_rows, "query_id long, lut array<array<long>>")


def _adc_dist_sql(m: int) -> str:
    """ADC distance as a small codegen expression: m (lut, code) probes
    summed — expects columns `lut` and `codes`."""
    return " + ".join(
        f"element_at(element_at(lut, {s + 1}),"
        f" CAST(element_at(codes, {s + 1}) + 1 AS INT))"
        for s in range(m)
    )


def _check_dims(dim: int, m: int) -> None:
    """Every PQ entry point validates divisibility — dim // m would
    otherwise silently truncate the trailing dimensions out of every
    code and every distance."""
    if dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m}")


def _books_shape(books: Codebook) -> tuple[int, int, int]:
    """(m, ksub, dsub) as recorded BY the codebook itself — the model's
    own shape, so loaded indexes never trust caller-supplied params."""
    m = 1 + max(s for s, _ in books)
    ksub = 1 + max(c for _, c in books)
    dsub = len(next(iter(books.values())))
    return m, ksub, dsub


def _check_model(books: Codebook, dim: int, m: int, ksub: int, where: str) -> None:
    """Caller params must match the persisted model — a silent mismatch
    would sum the wrong number of LUT probes or write short codes and
    return wrong neighbors with no error."""
    bm, bksub, bdsub = _books_shape(books)
    if (m, ksub, dim) != (bm, bksub, bm * bdsub):
        raise ValueError(
            f"{where}: persisted codebook has (m={bm}, ksub={bksub}, "
            f"dim={bm * bdsub}) but caller passed (m={m}, ksub={ksub}, dim={dim})"
        )


def _rank_topk(scored: DataFrame, top_k: int) -> DataFrame:
    """Shared ADC ranking: ascending distance, ties to the lower cand_id."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("cand_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= top_k)
    )


def _np_books(books: Codebook, m: int, ksub: int, dsub: int):
    import numpy as np

    C = np.empty((m, ksub, dsub), dtype=np.int64)
    for s in range(m):
        for c in range(ksub):
            C[s, c, :] = books[(s, c)]
    return C


def _encode_arrow(vecs: DataFrame, books: Codebook, m: int, ksub: int,
                  dsub: int) -> DataFrame:
    """(id, codes): map-only vectorized encode — per Arrow batch, numpy
    int64 argmin over the reduced distance -2*x.c + ||c||^2 (identical
    ordering AND ties to full squared-L2: the omitted ||x||^2 is
    constant per row, and np.argmin's first-minimum rule is the
    lowest-cid tie-break). No shuffle, no JVM codegen limits — a 256-
    literal argmin expression overflows janino's 64 KB method cap and
    silently falls back to interpreted eval (measured), while the numpy
    kernel stays vectorized at any (m, ksub). int64 wraps silently on
    overflow, unlike ANSI-mode JVM arithmetic — the documented input
    domain (pq_train) is the guard, and the all-JVM `via="join"` twin
    is pinned bit-identical in test_pq.py as the cross-engine check."""
    import numpy as np

    C = _np_books(books, m, ksub, dsub)
    c2 = (C.astype(np.int64) ** 2).sum(axis=2)  # (m, ksub)

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array([np.asarray(x, dtype=np.int64) for x in pdf["v"]])
            codes = np.empty((len(V), m), dtype=np.int64)
            for s in range(m):
                sl = V[:, s * dsub : (s + 1) * dsub]
                d = c2[s] - 2 * (sl @ C[s].T)  # (batch, ksub), exact int64
                codes[:, s] = d.argmin(axis=1)
            yield pd.DataFrame({"id": pdf["id"], "codes": list(codes)})

    return vecs.select("id", "v").mapInPandas(kernel, "id long, codes array<long>")


def pq_train(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    m: int = 4,
    ksub: int = 16,
    iters: int = 2,
    scale: int = 1_000_000,
    already_fixed: bool = False,
) -> Codebook:
    """Train the m sub-space codebooks jointly with `iters` Lloyd rounds;
    return {(sub, cid): dsub fixed-point coords}.

    Seeding: sub-centroid (s, c) is sub-space s of the c-th vector in
    md5(id) rank order — deterministic and engine-portable. Sub-spaces
    that end a round with an empty cluster keep the previous centroid
    (the kmeans_lloyd carry-over rule), so the round count alone fixes
    the output. Input domain: per-sub squared-L2 needs
    ``dsub * (2 * |x| * scale)^2 < 2^63`` — looser than full-vector
    k-means since dsub < dim; overflow fails LOUDLY under ANSI mode.

    Plan shape: unlike encode (a one-shot literal-codegen scan), the
    Lloyd rounds ship the m*ksub centroids as broadcast DATA — with 256
    centroids the inlined-literal argmin costs seconds of optimizer +
    codegen time PER ROUND (measured to dominate end-to-end), while the
    data formulation keeps one small, plan-cache-friendly shape across
    rounds: explode to (id, sub, slice), broadcast-join the centroid
    table, struct-min argmin under partial aggregation (skinny
    (id, sub, cid) rows on the wire), then the (sub, cid, dim)-keyed
    mean. Vectors are never shuffled whole, and only the codebook
    reaches the driver."""
    if dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    if ksub < 1 or iters < 1:
        raise ValueError(f"ksub and iters must be >= 1: ksub={ksub}, iters={iters}")
    dsub = dim // m
    spark = df.sparkSession
    vecs = _fixed_vecs(df, id_col, vec_col, scale, already_fixed)
    with scope():
        subs = persist(vecs.select(
            "id",
            F.explode(F.array(*[F.lit(s).cast("int") for s in range(m)])).alias("sub"),
            F.col("v"),
        ).select(
            "id",
            "sub",
            F.expr(f"slice(v, sub * {dsub} + 1, {dsub})").alias("sl"),
        ))
        seed_rows = (
            vecs.orderBy(F.md5(F.col("id").cast("string")), F.col("id"))
            .limit(ksub)
            .collect()
        )
        if len(seed_rows) < ksub:
            raise ValueError(f"ksub={ksub} but only {len(seed_rows)} vectors")
        books: Codebook = {
            (s, c): list(r["v"])[s * dsub : (s + 1) * dsub]
            for c, r in enumerate(seed_rows)
            for s in range(m)
        }
        dist = F.aggregate(
            F.zip_with(F.col("sl"), F.col("cv"), lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda acc, d: acc + d,
        )
        for _ in range(iters):
            cents = spark.createDataFrame(
                [(s, c, books[(s, c)]) for s in range(m) for c in range(ksub)],
                "sub int, cid long, cv array<long>",
            )
            assigned = (
                subs.join(F.broadcast(cents), "sub")
                .select("id", "sub", "sl", "cid", dist.alias("dist"))
                .groupBy("id", "sub")
                .agg(
                    F.min(F.struct("dist", "cid")).getField("cid").alias("cid"),
                    # every candidate row of an (id, sub) group carries the
                    # same slice, so first() is deterministic here
                    F.first("sl").alias("sl"),
                )
            )
            upd = (
                assigned.select("sub", "cid", F.posexplode("sl").alias("dim", "x"))
                .groupBy("sub", "cid", "dim")
                .agg(F.count(F.lit(1)).alias("n"), F.sum("x").alias("s"))
                .select(
                    "sub",
                    "cid",
                    "dim",
                    F.floor(F.col("s").cast("double") / F.col("n"))
                    .cast("long")
                    .alias("c"),
                )
                .collect()  # m*ksub*dsub rows — bounded, never data-sized
            )
            new_books = {k: list(v) for k, v in books.items()}
            for r in upd:
                new_books[(r["sub"], r["cid"])][r["dim"]] = r["c"]
            books = new_books
        return books


def pq_encode(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    books: Codebook,
    dim: int,
    m: int = 4,
    ksub: int = 16,
    scale: int = 1_000_000,
    via: str = "arrow",
    already_fixed: bool = False,
) -> DataFrame:
    """(id, codes array<long>): every vector compressed to m sub-space
    codes against the trained codebook.

    via="arrow" (default): map-only vectorized numpy argmin per Arrow
    batch — no shuffle, no JVM codegen limits, the 100 TB bulk-encode
    shape (see _encode_arrow for why a literal-codegen argmin can't be
    it). via="join": all-JVM broadcast-data formulation (explode →
    broadcast join → struct-min → regroup) — two skinny shuffles, exact
    ANSI arithmetic, and the plan shape the Lloyd rounds already JITted.
    Both paths are pinned bit-identical (test_pq.py) — a standing
    numpy-int64-vs-JVM-long parity check."""
    _check_dims(dim, m)
    dsub = dim // m
    vecs = _fixed_vecs(df, id_col, vec_col, scale, already_fixed)
    if via == "arrow":
        return _encode_arrow(vecs, books, m, ksub, dsub)
    if via != "join":
        raise ValueError(f"via must be 'arrow' or 'join': {via!r}")
    spark = df.sparkSession
    cents = spark.createDataFrame(
        [(s, c, books[(s, c)]) for s in range(m) for c in range(ksub)],
        "sub int, cid long, cv array<long>",
    )
    subs = vecs.select(
        "id",
        F.explode(F.array(*[F.lit(s).cast("int") for s in range(m)])).alias("sub"),
        F.col("v"),
    ).select(
        "id", "sub", F.expr(f"slice(v, sub * {dsub} + 1, {dsub})").alias("sl")
    )
    dist = F.aggregate(
        F.zip_with(F.col("sl"), F.col("cv"), lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, d: acc + d,
    )
    assigned = (
        subs.join(F.broadcast(cents), "sub")
        .select("id", "sub", dist.alias("dist"), "cid")
        .groupBy("id", "sub")
        .agg(F.min(F.struct("dist", "cid")).getField("cid").alias("cid"))
    )
    return assigned.groupBy("id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("sub", "cid"))),
            lambda x: x["cid"],
        ).alias("codes")
    )


def _adc_scored(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    books: Codebook,
    dim: int,
    m: int,
    ksub: int,
    scale: int,
    query_max_id: int,
    codes: DataFrame | None = None,
) -> DataFrame:
    """(query_id, cand_id, adc_dist): asymmetric distances of every
    candidate CODE to every exact query vector (self excluded).

    The per-query LUT (m x ksub exact BIGINT sub-distances, FULL
    squared-L2 — they are emitted as adc_dist, so the per-row-constant
    reduction used for argmins doesn't apply) is computed DRIVER-side
    from the collected query vectors — bounded by construction
    (id < query_max_id), and exactly where every production ANN server
    computes LUTs: on the query path, from the request payload. The
    scan is then a broadcast nested-loop over the code table with
    distance = m element_at lookups summed in codegen (a small, fixed
    expression — an in-plan LUT over 256 literal sub-distances
    overflows the JVM's 64 KB codegen method cap). Pass `codes` (a
    pq_encode result) to scan a pre-encoded store instead of
    re-encoding."""
    _check_dims(dim, m)
    dsub = dim // m
    vecs = _fixed_vecs(df, id_col, vec_col, scale)
    if codes is None:
        codes = pq_encode(df, id_col, vec_col, books, dim, m, ksub, scale)
    codes = codes.select(F.col("id").alias("cand_id"), "codes")
    qrows = vecs.filter(F.col("id") < query_max_id).collect()
    lut = _driver_lut_frame(df.sparkSession, qrows, books, m, ksub, dsub)
    return (
        codes.crossJoin(F.broadcast(lut))
        .filter(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id", F.expr(_adc_dist_sql(m)).alias("adc_dist"))
    )


def pq_adc_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    books: Codebook,
    dim: int,
    m: int = 4,
    ksub: int = 16,
    scale: int = 1_000_000,
    query_max_id: int = 10,
    top_k: int = 5,
    codes: DataFrame | None = None,
) -> DataFrame:
    """(query_id, cand_id, adc_dist, rank): ADC top-k per query vector
    (id < query_max_id), ascending approximate squared-L2, ties to the
    lower cand_id. Pass `codes` to scan a pre-encoded store."""
    scored = _adc_scored(
        df, id_col, vec_col, books, dim, m, ksub, scale, query_max_id, codes
    )
    return _rank_topk(scored, top_k)


def pq_recall_eval(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    books: Codebook,
    dim: int,
    m: int = 4,
    ksub: int = 16,
    scale: int = 1_000_000,
    query_max_id: int = 10,
    top_k: int = 5,
    codes: DataFrame | None = None,
) -> DataFrame:
    """One row (n_queries, k, mean_recall_ppm, min_recall_ppm): recall@k
    of the ADC top-k against the EXACT fixed-point squared-L2 top-k over
    the same queries, in exact ppm integers (the sim_ivf_recall_eval
    convention) — the measurement that decides whether an (m, ksub)
    config is shippable before committing the 100 TB encode."""
    vecs = _fixed_vecs(df, id_col, vec_col, scale)
    truth = exact_l2_truth(vecs, query_max_id, top_k)
    approx = pq_adc_topk(
        df, id_col, vec_col, books, dim, m, ksub, scale, query_max_id, top_k, codes
    ).select("query_id", "cand_id")
    per_q = truth.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_true"))
    hits = (
        truth.join(approx, ["query_id", "cand_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    r = per_q.join(hits, "query_id", "left").select(
        F.expr("coalesce(n_hit, 0) * 1000000 div n_true").alias("recall_ppm")
    )
    return r.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.lit(top_k).cast("long").alias("k"),
        F.expr("sum(recall_ppm) div count(1)").cast("long").alias("mean_recall_ppm"),
        F.min("recall_ppm").cast("long").alias("min_recall_ppm"),
    )


def ivfpq_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    books: Codebook,
    dim: int,
    m: int = 4,
    ksub: int = 16,
    scale: int = 1_000_000,
    n_centroids: int = 16,
    nprobe: int = 2,
    query_max_id: int = 10,
    top_k: int = 5,
    codes: DataFrame | None = None,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """(query_id, cand_id, adc_dist, rank): the full Faiss IVFADC
    composition — IVF cells prune the candidate set (each candidate
    lives in its rn=1 cell; a query scans only its nprobe nearest
    cells), then the surviving candidates are ranked by ADC distance
    over their PQ CODES instead of their raw vectors.

    This is THE production 100 TB ANN architecture: the scan touches
    ~N*nprobe/n_centroids candidates (cell pruning) at 8 bytes each
    (PQ compression), with per-query LUTs making each distance m table
    probes. Cell assignment keeps similarity.ivf_assign's contract
    (deterministic seed centroids id < n_centroids, cosine, zero-norm
    vectors excluded); ADC keeps pq_adc_topk's (exact fixed-point
    BIGINT sub-distances, ties to the lower cand_id).

    ``assigned`` optionally supplies a precomputed (and typically
    persisted) ``ivf_assign(..., max_rank=nprobe)`` frame so an eval
    that runs several code variants over the SAME cells pays for the
    assignment once (r12)."""
    from .similarity import ivf_assign, nonzero_vectors

    _check_dims(dim, m)
    nz = nonzero_vectors(df, vec_col)
    if assigned is None:
        assigned = ivf_assign(nz, id_col, vec_col, n_centroids, max_rank=nprobe)
    cand = assigned.filter(F.col("_rn") == 1).select(
        F.col("_id").alias("cand_id"), "cid"
    )
    probes = (
        assigned.filter(F.col("_rn") <= nprobe)
        .filter(F.col("_id") < query_max_id)
        .select(F.col("_id").alias("query_id"), "cid")
    )
    pairs = (
        cand.join(F.broadcast(probes), "cid")
        .filter(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id")
    )
    if codes is None:
        codes = pq_encode(df, id_col, vec_col, books, dim, m, ksub, scale)
    dsub = dim // m
    qrows = (
        _fixed_vecs(nz, id_col, vec_col, scale)
        .filter(F.col("id") < query_max_id)
        .collect()
    )
    lut = _driver_lut_frame(df.sparkSession, qrows, books, m, ksub, dsub)
    scored = (
        pairs.join(codes.withColumnRenamed("id", "cand_id"), "cand_id")
        .join(F.broadcast(lut), "query_id")
        .select("query_id", "cand_id", F.expr(_adc_dist_sql(m)).alias("adc_dist"))
    )
    return _rank_topk(scored, top_k)


def residual_frame(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    scale: int = 1_000_000,
    n_centroids: int = 16,
) -> DataFrame:
    """(id, rv, cid): every nonzero vector's EXACT fixed-point residual
    against its rn=1 IVF cell centroid — rv = round(x*s) - round(c*s),
    so both engines reproduce it bit-for-bit (rounding the float
    difference instead would not). Residuals are what Faiss's IVFADC
    actually quantizes: within a cell they are centered near zero, so
    the same codebook budget spends its resolution where the data is."""
    from .similarity import ivf_assign, nonzero_vectors

    nz = nonzero_vectors(df, vec_col)
    assigned = ivf_assign(nz, id_col, vec_col, n_centroids, max_rank=1)
    fixed = assigned.select(
        F.col("_id").alias("id"),
        F.transform(
            F.col("_vec"), lambda x: F.round(x.cast("double") * scale).cast("long")
        ).alias("ve"),
        "cid",
    )
    cents = _fixed_vecs(
        nz.filter(F.col(id_col) < n_centroids), id_col, vec_col, scale
    ).select(F.col("id").alias("cid"), F.col("v").alias("cv"))
    return fixed.join(F.broadcast(cents), "cid").select(
        "id",
        F.zip_with(F.col("ve"), F.col("cv"), lambda x, y: x - y).alias("rv"),
        "cid",
    )


def ivfpq_residual_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    books: Codebook,
    dim: int,
    m: int = 4,
    ksub: int = 16,
    scale: int = 1_000_000,
    n_centroids: int = 16,
    nprobe: int = 2,
    query_max_id: int = 10,
    top_k: int = 5,
    codes: DataFrame | None = None,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """(query_id, cand_id, adc_dist, rank): IVFADC over RESIDUAL codes —
    the faithful Faiss recipe. ``books`` must be trained on
    :func:`residual_frame` output (already_fixed=True); ``codes``
    likewise encodes residuals. The per-query LUT becomes per
    (query, probed cell): the query's residual against THAT cell's
    centroid vs the codebook — nprobe * m * ksub exact BIGINTs per
    query, still driver-bounded. Distance ranks approximate
    ||q - (c + r̂)||^2 within each probed cell.

    ``assigned`` optionally supplies a precomputed/persisted
    ``ivf_assign(..., max_rank=nprobe)`` frame (shared-cells eval
    path, r12 — see :func:`ivfpq_topk`)."""
    from .similarity import ivf_assign, nonzero_vectors

    _check_dims(dim, m)
    dsub = dim // m
    nz = nonzero_vectors(df, vec_col)
    if assigned is None:
        assigned = ivf_assign(nz, id_col, vec_col, n_centroids, max_rank=nprobe)
    cand = assigned.filter(F.col("_rn") == 1).select(
        F.col("_id").alias("cand_id"), "cid"
    )
    probes = (
        assigned.filter(F.col("_rn") <= nprobe)
        .filter(F.col("_id") < query_max_id)
        .select(F.col("_id").alias("query_id"), "cid")
    )
    pairs = (
        cand.join(F.broadcast(probes), "cid")
        .filter(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id", "cid")
    )
    if codes is None:
        codes = pq_encode(
            residual_frame(df, id_col, vec_col, scale, n_centroids),
            "id", "rv", books, dim, m, ksub, scale, already_fixed=True,
        )
    qrows = (
        _fixed_vecs(nz, id_col, vec_col, scale)
        .filter(F.col("id") < query_max_id)
        .collect()
    )
    cent_rows = _fixed_vecs(
        nz.filter(F.col(id_col) < n_centroids), id_col, vec_col, scale
    ).collect()
    cents_e6 = {int(r["id"]): list(r["v"]) for r in cent_rows}
    lut_rows = []
    for r in qrows:
        for ccid, cv in sorted(cents_e6.items()):
            qres = [int(a) - int(b) for a, b in zip(r["v"], cv)]
            lut_rows.append(
                (
                    int(r["id"]),
                    int(ccid),
                    [
                        [
                            _sub_sq_dist_py(qres, s, dsub, books[(s, c)])
                            for c in range(ksub)
                        ]
                        for s in range(m)
                    ],
                )
            )
    lut = df.sparkSession.createDataFrame(
        lut_rows, "query_id long, cid long, lut array<array<long>>"
    )
    scored = (
        pairs.join(codes.withColumnRenamed("id", "cand_id"), "cand_id")
        .join(F.broadcast(lut), ["query_id", "cid"])
        .select("query_id", "cand_id", F.expr(_adc_dist_sql(m)).alias("adc_dist"))
    )
    return _rank_topk(scored, top_k)


@scoped
def ivfpq_recall_eval(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    raw_books: Codebook,
    res_books: Codebook,
    dim: int,
    m: int = 4,
    ksub: int = 16,
    scale: int = 1_000_000,
    n_centroids: int = 16,
    nprobe: int = 2,
    query_max_id: int = 10,
    top_k: int = 5,
    raw_codes: DataFrame | None = None,
    res_codes: DataFrame | None = None,
) -> DataFrame:
    """Two rows (variant, n_queries, k, mean_recall_ppm,
    min_recall_ppm): recall@k of raw-code IVFADC vs RESIDUAL-code IVFADC
    against exact fixed-point squared-L2 over the same (nonzero)
    candidate universe — the measured form of the Faiss claim that
    residual quantization buys recall at identical bytes."""
    from .similarity import nonzero_vectors

    nz = nonzero_vectors(df, vec_col)
    vecs = _fixed_vecs(nz, id_col, vec_col, scale)
    # the exact-L2 truth table is consumed twice per variant (per-query
    # totals + the hit semi-join) — materialize it ONCE instead of
    # re-running the crossJoin + window per consumer (r12; size-gated r13)
    truth = persist(exact_l2_truth(vecs, query_max_id, top_k), source=df)

    def _ppm(approx: DataFrame, variant: str) -> DataFrame:
        per_q = truth.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_true"))
        hits = (
            truth.join(approx.select("query_id", "cand_id"), ["query_id", "cand_id"], "left_semi")
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).alias("n_hit"))
        )
        r = per_q.join(hits, "query_id", "left").select(
            F.expr("coalesce(n_hit, 0) * 1000000 div n_true").alias("recall_ppm")
        )
        return r.agg(
            F.lit(variant).alias("variant"),
            F.count(F.lit(1)).cast("long").alias("n_queries"),
            F.lit(top_k).cast("long").alias("k"),
            F.expr("sum(recall_ppm) div count(1)").cast("long").alias("mean_recall_ppm"),
            F.min("recall_ppm").cast("long").alias("min_recall_ppm"),
        )

    # ONE seed-cell assignment serves both code variants (r12; persist
    # size-gated r13)
    from .similarity import ivf_assign

    assigned = persist(
        ivf_assign(nz, id_col, vec_col, n_centroids, max_rank=nprobe), source=df
    )
    raw = ivfpq_topk(
        df, id_col, vec_col, raw_books, dim, m, ksub, scale,
        n_centroids, nprobe, query_max_id, top_k, raw_codes, assigned=assigned,
    )
    res = ivfpq_residual_topk(
        df, id_col, vec_col, res_books, dim, m, ksub, scale,
        n_centroids, nprobe, query_max_id, top_k, res_codes, assigned=assigned,
    )
    return _ppm(raw, "raw").unionAll(_ppm(res, "residual"))


# ---------------------------------------------------------------------------
# Persisted IVFADC index: the serving layout for the composition —
# cells/cid=*/ holds (id, codes) rows (8 bytes of payload per vector
# instead of the raw embedding), centroids/ + codebook/ hold the bounded
# model metadata. Same manifest-snapshot contract as the LSH/IVF/BM25
# indexes (reader-atomic under append, GC grace window).
# ---------------------------------------------------------------------------


#: On-disk layout version of the IVFADC index tree (codebook +
#: centroids + cid-partitioned code cells) — folded into
#: cached_index_dir keys; bump beside any ivfpq_build_index layout
#: change (this format changed twice in r9 with staleness prevented
#: only by discipline; now it's construction).
IVFPQ_LAYOUT_VERSION = 4  # v4 (r12): optional rotation/ table carries
#                           the OPQ orthogonal rotation (applied to
#                           vectors before cell assignment + encode);
#                           v3 (r11): meta/ carries default_nprobe;
#                           v2 (r10): centroids carry `metric`

#: Serving default when an index predates layout v3 (no meta/ table) or
#: was built without a measured frontier.
IVFPQ_FALLBACK_NPROBE = 2


def choose_default_nprobe(frontier_rows, within: float = 0.05) -> int:
    """The frontier-chosen serving operating point: the SMALLEST nprobe
    whose mean recall is within ``within`` (fraction) of the best
    measured recall — recall buys linearly in scan cost, so the
    cheapest probe count that is statistically as good as the max IS
    the knob a deployment wants. Input: rows from
    :func:`ivfpq_probe_frontier` (needs ``nprobe`` and
    ``mean_recall_ppm`` columns)."""
    pts = [(int(r["nprobe"]), int(r["mean_recall_ppm"])) for r in frontier_rows]
    if not pts:
        raise ValueError("choose_default_nprobe: empty frontier")
    best = max(ppm for _, ppm in pts)
    # integer-exact threshold (``within`` snapped to basis points) so
    # the rule replays bit-identically in SQL engines — see the
    # sim_ivfpq_operating_point oracle, which applies the same
    # ppm * 10000 >= thr_bp * best comparison
    thr_bp = round((1.0 - within) * 10_000)
    return min(np_ for np_, ppm in pts if ppm * 10_000 >= thr_bp * best)


def ivfpq_build_index(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    path: str,
    dim: int,
    m: int = 4,
    ksub: int = 16,
    iters: int = 2,
    scale: int = 1_000_000,
    n_centroids: int = 16,
    cents: dict[int, list[int]] | None = None,
    default_nprobe: int | None = None,
    rotation=None,
) -> Codebook:
    """Build the on-disk IVFADC index: train the PQ codebook, assign
    every (nonzero) vector to its nearest IVF cell, and persist the
    CODES — not the vectors — partitioned by cell id. Query-time reads
    prune to the probed cells' partitions AND carry only 8-byte codes;
    this is where PQ's 32x storage shrink becomes a 32x scan-bandwidth
    shrink. Returns the trained codebook (also persisted under
    ``codebook/`` so queries are self-contained).

    ``cents`` (r10, layout v2): a TRAINED coarse quantizer —
    {cid: fixed-point e6 coordinate list} from
    clustering.kmeans_centroids. The centroids table then carries
    metric="l2e6" and assignment (build, append, query) is exact
    integer squared-L2 against the trained cells, the Faiss default.
    Without it, the deterministic seed set with cosine assignment
    (metric="cosine") is persisted as before.

    ``default_nprobe`` (r11, layout v3): the measured serving operating
    point — :func:`choose_default_nprobe` over an
    :func:`ivfpq_probe_frontier` eval — persisted into the index's
    ``meta/`` table and used by :func:`ivfpq_query_index` when the
    caller passes no ``nprobe``. The 100 TB serving story ships its
    measured tuning with the index, not a magic constant in code.
    Defaults to :data:`IVFPQ_FALLBACK_NPROBE` when no frontier ran.

    ``rotation`` (r12, layout v4): an OPQ orthogonal rotation (e.g.
    from :func:`~.opq.opq_train_rotation`) applied to every vector
    BEFORE cell assignment and encoding, and persisted under
    ``rotation/`` so append and query rotate identically — the index
    ships its learned geometry exactly as it ships its measured
    nprobe. When supplied, any external ``cents`` must have been
    trained on the ROTATED vectors (everything downstream lives in
    rotated space)."""
    from pathlib import Path as _P

    from ..sources.manifest import manifest_txn
    from .similarity import nonzero_vectors

    rot_rows = None
    if rotation is not None:
        rot_rows = _rotation_payload(rotation, dim)
        df = rotate_vectors(df, id_col, vec_col, rotation)
    books = pq_train(df, id_col, vec_col, dim, m, ksub, iters, scale)
    nz = nonzero_vectors(df, vec_col)
    spark = df.sparkSession
    if cents is None:
        metric = "cosine"
        cent_df = nz.filter(F.col(id_col) < n_centroids).select(
            F.col(id_col).alias("cid"),
            F.col(vec_col).alias("cvec"),
            F.lit("cosine").alias("metric"),
        )
        payload = cent_df.collect()
    else:
        metric = "l2e6"
        # e6 fixed-point coords stored as doubles: exact for the whole
        # supported domain (|x_e6| < 2^53), one schema for both metrics
        cent_df = spark.createDataFrame(
            [(int(cid), [float(x) for x in cv], "l2e6")
             for cid, cv in sorted(cents.items())],
            "cid long, cvec array<double>, metric string",
        )
        payload = cents
    enc = pq_encode(df, id_col, vec_col, books, dim, m, ksub, scale)
    book_rows = [
        (s, c, books[(s, c)]) for s in range(m) for c in range(ksub)
    ]
    meta_rows = [
        ("layout_version", int(IVFPQ_LAYOUT_VERSION)),
        ("default_nprobe",
         int(default_nprobe if default_nprobe is not None
             else IVFPQ_FALLBACK_NPROBE)),
    ]
    with manifest_txn(path):
        cent_df.coalesce(1).write.mode("overwrite").parquet(
            str(_P(path) / "centroids")
        )
        spark.createDataFrame(
            book_rows, "sub int, cid long, coords array<long>"
        ).coalesce(1).write.mode("overwrite").parquet(str(_P(path) / "codebook"))
        spark.createDataFrame(
            meta_rows, "key string, value long"
        ).coalesce(1).write.mode("overwrite").parquet(str(_P(path) / "meta"))
        if rot_rows is not None:
            spark.createDataFrame(
                rot_rows, "i int, coords array<double>"
            ).coalesce(1).write.mode("overwrite").parquet(
                str(_P(path) / "rotation")
            )
        assigned = _assign_index_cells(
            nz, id_col, vec_col, metric, payload, scale, max_rank=1
        ).select(F.col("_id").alias("id"), "cid")
        (
            assigned.join(enc, "id")
            .write.mode("overwrite")
            .partitionBy("cid")
            .parquet(str(_P(path) / "cells"))
        )
    return books


def ivfpq_append_index(
    spark,
    df: DataFrame,
    id_col: str,
    vec_col: str,
    path: str,
    dim: int,
    m: int = 4,
    ksub: int = 16,
    scale: int = 1_000_000,
) -> None:
    """Fold new vectors into a persisted IVFADC index WITHOUT
    rebuilding: the batch is encoded against the index's EXISTING
    codebook and assigned to its EXISTING centroids (both read from
    disk — bounded metadata), so cell geometry and code semantics stay
    stable across appends and append-then-query equals a rebuild over
    the same model (pytest-pinned). Codebook drift is a rebuild event,
    exactly as in production PQ systems."""
    from pathlib import Path as _P

    from ..sources.manifest import latest_manifest, manifest_read, manifest_txn
    from .similarity import nonzero_vectors

    snap = latest_manifest(path)
    if snap is None:
        # Never fall back to an unpinned directory read of the model: a
        # half-bootstrapped tree (cells written, manifest commit lost)
        # must be re-bootstrapped by the caller, not silently appended
        # against whatever files happen to be on disk.
        raise RuntimeError(
            f"ivfpq_append_index: no published manifest snapshot under "
            f"{path!r}; bootstrap with ivfpq_build_index first"
        )
    metric, payload = _cells_model_from_rows(
        manifest_read(spark, path, "centroids", snapshot=snap).collect()
    )
    books = _books_from_rows(
        manifest_read(spark, path, "codebook", snapshot=snap).collect()
    )
    _check_model(books, dim, m, ksub, "ivfpq_append_index")
    rot = _load_rotation(spark, path, snap)
    if rot is not None:
        # layout v4: the index's persisted OPQ rotation — appends must
        # live in the same rotated space as the build (rotation is
        # norm-preserving, so the nonzero filter commutes with it)
        df = rotate_vectors(df, id_col, vec_col, rot)
    nz = nonzero_vectors(df, vec_col)
    enc = pq_encode(df, id_col, vec_col, books, dim, m, ksub, scale)
    assigned = _assign_index_cells(
        nz, id_col, vec_col, metric, payload, scale, max_rank=1
    ).select(F.col("_id").alias("id"), "cid")
    with manifest_txn(path):
        (
            assigned.join(enc, "id")
            .write.mode("append")
            .partitionBy("cid")
            .parquet(str(_P(path) / "cells"))
        )


def rotate_vectors(df: DataFrame, id_col: str, vec_col: str, R) -> DataFrame:
    """(id_col, vec_col): every vector replaced by its image under the
    orthogonal rotation ``R`` (row-vector convention: y = x @ R), as
    exact float64 arrays. Map-only Arrow stage — one numpy matmul per
    batch, no shuffle, the same bulk shape as :func:`_encode_arrow`
    (a dim x dim literal-expression matmul would be a 4096-term codegen
    expression at dim=64 — past janino's method cap). Rotation precedes
    the fixed-point snap everywhere (build, append, query), so both
    sides of an index round-trip quantize identical doubles."""
    import numpy as np

    Rm = np.asarray(R, dtype=np.float64)
    dim = Rm.shape[0]
    if Rm.shape != (dim, dim):
        raise ValueError(f"rotation must be square, got {Rm.shape}")

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array(
                [np.asarray(x, dtype=np.float64) for x in pdf[vec_col]]
            )
            if X.shape[1] != dim:
                raise ValueError(
                    f"rotate_vectors: vectors are {X.shape[1]}-dim but the "
                    f"rotation is {dim}x{dim}"
                )
            yield pd.DataFrame(
                {id_col: pdf[id_col], vec_col: list(X @ Rm)}
            )

    return df.select(id_col, vec_col).mapInPandas(
        kernel, f"{id_col} long, {vec_col} array<double>"
    )


def _rotation_payload(rotation, dim: int):
    """Validated [(i, row_i)] rows for the ``rotation/`` table (layout
    v4): row i of the dim x dim matrix under y = x @ R."""
    import numpy as np

    Rm = np.asarray(rotation, dtype=np.float64)
    if Rm.shape != (dim, dim):
        raise ValueError(
            f"rotation must be {dim}x{dim} for this index, got {Rm.shape}"
        )
    return [(int(i), [float(x) for x in Rm[i]]) for i in range(dim)]


def _load_rotation(spark, path: str, snap: dict):
    """The persisted OPQ rotation as a numpy matrix, or None for
    indexes built without one (their snapshots list no ``rotation/``
    files — pre-v4 layouts included)."""
    import numpy as np

    from ..sources.manifest import manifest_read

    if not any(f.startswith("rotation/") for f in snap["files"]):
        return None
    rows = manifest_read(spark, path, "rotation", snapshot=snap).collect()
    return np.array(
        [list(r["coords"]) for r in sorted(rows, key=lambda r: int(r["i"]))],
        dtype=np.float64,
    )


def _books_from_rows(rows) -> Codebook:
    return {(int(r["sub"]), int(r["cid"])): list(r["coords"]) for r in rows}


def _meta_default_nprobe(spark, path: str, snap: dict) -> int:
    """The persisted serving operating point, or the fallback for
    pre-v3 indexes (their snapshots list no ``meta/`` files). Callers
    always hold a published snapshot — every index reader raises before
    reaching here when no manifest exists (ADVICE r11 #1)."""
    from ..sources.manifest import manifest_read

    if not any(f.startswith("meta/") for f in snap["files"]):
        return IVFPQ_FALLBACK_NPROBE
    rows = manifest_read(spark, path, "meta", snapshot=snap).collect()
    vals = {r["key"]: int(r["value"]) for r in rows}
    return vals.get("default_nprobe", IVFPQ_FALLBACK_NPROBE)


def _cells_model_from_rows(rows):
    """(metric, payload) from persisted centroid rows. metric "cosine"
    (seed raw vectors, layout v1 rows have no metric column — default
    for back-compat) keeps the row list for assign_to_centroids;
    "l2e6" (trained k-means cells, layout v2) decodes the fixed-point
    coordinate dict for :func:`_ranked_cells`."""
    if not rows:
        raise RuntimeError(
            "empty centroids table in the pinned snapshot; index is "
            "corrupt — rebuild with ivfpq_build_index"
        )
    first = rows[0].asDict()
    metric = first.get("metric", "cosine")
    if metric == "cosine":
        return metric, rows
    if metric == "l2e6":
        return metric, {
            int(r["cid"]): [int(x) for x in r["cvec"]] for r in rows
        }
    raise ValueError(f"unknown persisted cell metric {metric!r}")


def _assign_index_cells(nz: DataFrame, id_col: str, vec_col: str,
                        metric: str, payload, scale: int,
                        max_rank: int) -> DataFrame:
    """(_id, cid[, _rn]) ranked cell assignment against a persisted
    model, dispatched on its metric."""
    from .similarity import assign_to_centroids

    if metric == "cosine":
        return assign_to_centroids(nz, id_col, vec_col, payload, max_rank)
    ranked = _ranked_cells(
        _fixed_vecs(nz, id_col, vec_col, scale), payload, max_rank
    )
    return ranked.select(
        F.col("id").alias("_id"), "cid", F.col("rn").alias("_rn")
    )


def ivfpq_query_index(
    spark,
    path: str,
    query_df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    m: int = 4,
    ksub: int = 16,
    scale: int = 1_000_000,
    nprobe: int | None = None,
    top_k: int = 5,
    snapshot: dict | None = None,
) -> DataFrame:
    """Probe the persisted IVFADC index: assign each query to its
    ``nprobe`` nearest cells (broadcast centroid metadata), read ONLY
    those cells' partitions (partition pruning on ``cid``), and rank
    the candidates' CODES by ADC distance with driver-computed LUTs.
    Output (query_id, cand_id, adc_dist, rank) — the same contract as
    :func:`ivfpq_topk`, pinned equal to the direct path. All metadata
    reads pin ONE manifest generation.

    ``nprobe=None`` (the default since r11) serves at the index's OWN
    measured operating point: the ``default_nprobe`` the build persisted
    into ``meta/`` (frontier-chosen via :func:`choose_default_nprobe`).
    Pre-v3 indexes without a meta table fall back to
    :data:`IVFPQ_FALLBACK_NPROBE`. Pass an explicit ``nprobe`` to
    override (eval sweeps, oracle-pinned catalog queries)."""
    from ..sources.manifest import latest_manifest, manifest_read
    from .similarity import nonzero_vectors

    dsub = dim // m
    snap = snapshot if snapshot is not None else latest_manifest(path)
    if snap is None:
        # Matching lsh_query_index / ivf_query_index and both append
        # paths (ADVICE r11 #1): a half-bootstrapped tree (cells
        # written, manifest commit lost) must never be served via an
        # unpinned plain-directory read of whatever files survive.
        raise RuntimeError(
            f"ivfpq_query_index: no published manifest snapshot under "
            f"{path!r}; bootstrap with ivfpq_build_index first"
        )
    if nprobe is None:
        nprobe = _meta_default_nprobe(spark, path, snap)
    metric, payload = _cells_model_from_rows(
        manifest_read(spark, path, "centroids", snapshot=snap).collect()
    )
    books = _books_from_rows(
        manifest_read(spark, path, "codebook", snapshot=snap).collect()
    )
    _check_model(books, dim, m, ksub, "ivfpq_query_index")
    rot = _load_rotation(spark, path, snap)
    if rot is not None:
        # queries meet a v4 index in its own rotated space: centroids,
        # codes and codebook were all built post-rotation
        query_df = rotate_vectors(query_df, id_col, vec_col, rot)
    nzq = nonzero_vectors(query_df, vec_col)
    probes = _assign_index_cells(
        nzq, id_col, vec_col, metric, payload, scale, max_rank=nprobe
    ).select(F.col("_id").alias("query_id"), "cid")
    qrows = _fixed_vecs(nzq, id_col, vec_col, scale).collect()
    lut = _driver_lut_frame(spark, qrows, books, m, ksub, dsub)
    cells = manifest_read(spark, path, "cells", snapshot=snap)
    cand = (
        cells.join(F.broadcast(probes), "cid")
        .filter(F.col("id") != F.col("query_id"))
        # a repeated append (e.g. a replayed batch: crash between
        # ivfpq_append_index and the caller's commit) duplicates
        # (id, codes) rows in a cell; codes are a deterministic function
        # of the vector, so the pair dedup is exact (the IVF twin's
        # dropDuplicates rationale)
        .dropDuplicates(["query_id", "id"])
    )
    scored = cand.join(F.broadcast(lut), "query_id").select(
        "query_id",
        F.col("id").alias("cand_id"),
        F.expr(_adc_dist_sql(m)).alias("adc_dist"),
    )
    return _rank_topk(scored, top_k)


# ---------------------------------------------------------------------------
# DuckDB twins: the Lloyd loop + encode + ADC scan unrolled into one CTE
# chain (the kmeans_lloyd_sql pattern generalized to (sub, cid, dim) keys).
# ---------------------------------------------------------------------------


def _pq_ctes(
    table: str,
    id_col: str,
    vec_col: str,
    dim: int,
    m: int,
    ksub: int,
    iters: int,
    scale: int,
    prefix: str = "",
    v_sql: str | None = None,
) -> tuple[list[str], str, str]:
    """Shared CTE chain: returns (ctes, final-centroid CTE name, encode
    CTE name). `{prefix}enc` holds (id, sub, cid) — every vector's code
    against the FINAL codebook. ``prefix`` namespaces every CTE so two
    chains (e.g. raw + residual) can share one WITH clause; ``v_sql``
    overrides the default fixed-point source with any SELECT producing
    (id, v BIGINT[]) — the residual chain feeds (ve - cv) here and the
    whole trainer/encoder runs on it verbatim."""
    dsub = dim // m
    P = prefix
    rank_on_id = "md5(CAST(id AS VARCHAR)), id"
    if v_sql is None:
        v_sql = f"""SELECT {id_col} AS id,
             list_transform(CAST({vec_col} AS DOUBLE[]),
                            x -> CAST(ROUND(x * {scale}) AS BIGINT)) AS v
           FROM {table}"""
    # MATERIALIZED on the hot CTEs is a memory/time lever, not a hint:
    # DuckDB 1.x INLINES plain CTEs, so `{P}v` (referenced ~10x per
    # chain, ~132x in the 2x2x2 OPQ oracle) and `{P}enc` re-expand their
    # whole subtree per reference — measured on the sim_opq_recall_eval
    # oracle at sf0.01: 4113 MiB peak RSS / 19.0 s inlined vs 1348 MiB /
    # 1.3 s with the hot CTEs materialized, identical rows (r13,
    # VERDICT r12 ask #7 — the oracle, not the engine, was eating the
    # session memory budget).
    ctes = [
        f"""{P}v AS MATERIALIZED ({v_sql})""",
        f"""{P}seeds AS (SELECT CAST(row_number() OVER (ORDER BY {rank_on_id}) - 1
                    AS BIGINT) AS cid, v
           FROM {P}v ORDER BY {rank_on_id} LIMIT {ksub})""",
        f"""{P}c0 AS (SELECT s.i AS sub, {P}seeds.cid, d.i AS dim,
                  v[CAST(s.i * {dsub} + d.i + 1 AS INT)] AS c
           FROM {P}seeds CROSS JOIN range(0, {m}) s(i)
                      CROSS JOIN range(0, {dsub}) d(i))""",
    ]
    prev = f"{P}c0"
    for it in range(1, iters + 1):
        d, a, u, c = f"{P}d{it}", f"{P}a{it}", f"{P}u{it}", f"{P}c{it}"
        ctes.append(
            f"""{d} AS (SELECT vv.id, cc.sub, cc.cid,
               SUM((vv.v[CAST(cc.sub * {dsub} + cc.dim + 1 AS INT)] - cc.c)
                   * (vv.v[CAST(cc.sub * {dsub} + cc.dim + 1 AS INT)] - cc.c)) AS dist
             FROM {P}v vv, {prev} cc GROUP BY 1, 2, 3)"""
        )
        ctes.append(
            f"""{a} AS (SELECT id, sub, cid FROM (
               SELECT id, sub, cid,
                      row_number() OVER (PARTITION BY id, sub
                                         ORDER BY dist, cid) AS rn
               FROM {d}) WHERE rn = 1)"""
        )
        ctes.append(
            f"""{u} AS (SELECT a.sub, a.cid, i AS dim,
                      CAST(FLOOR(CAST(SUM(v.v[CAST(a.sub * {dsub} + i + 1 AS INT)])
                                      AS DOUBLE) / COUNT(*)) AS BIGINT) AS c
             FROM {a} a JOIN {P}v v USING (id) CROSS JOIN range(0, {dsub}) r(i)
             GROUP BY 1, 2, 3)"""
        )
        ctes.append(
            f"""{c} AS (SELECT p.sub, p.cid, p.dim, COALESCE(u.c, p.c) AS c
             FROM {prev} p LEFT JOIN {u} u
               ON p.sub = u.sub AND p.cid = u.cid AND p.dim = u.dim)"""
        )
        prev = c
    ctes.append(
        f"""{P}ed AS (SELECT vv.id, cc.sub, cc.cid,
           SUM((vv.v[CAST(cc.sub * {dsub} + cc.dim + 1 AS INT)] - cc.c)
               * (vv.v[CAST(cc.sub * {dsub} + cc.dim + 1 AS INT)] - cc.c)) AS dist
         FROM {P}v vv, {prev} cc GROUP BY 1, 2, 3)"""
    )
    ctes.append(
        f"""{P}enc AS MATERIALIZED (SELECT id, sub, cid FROM (
           SELECT id, sub, cid,
                  row_number() OVER (PARTITION BY id, sub
                                     ORDER BY dist, cid) AS rn
           FROM {P}ed) WHERE rn = 1)"""
    )
    return ctes, prev, f"{P}enc"


def pq_codes_sql(
    table: str,
    id_col: str,
    vec_col: str,
    dim: int,
    m: int = 4,
    ksub: int = 16,
    iters: int = 2,
    scale: int = 1_000_000,
) -> str:
    """DuckDB twin of pq_train + pq_encode: (vec_id, codes_csv)."""
    ctes, _, enc = _pq_ctes(table, id_col, vec_col, dim, m, ksub, iters, scale)
    body = ",\n    ".join(ctes)
    return f"""
    WITH {body}
    SELECT id AS vec_id,
           string_agg(CAST(cid AS VARCHAR), ',' ORDER BY sub) AS codes_csv
    FROM {enc} GROUP BY id
    """


def _adc_ctes(
    table: str,
    id_col: str,
    vec_col: str,
    dim: int,
    m: int,
    ksub: int,
    iters: int,
    scale: int,
    query_max_id: int,
    prefix: str = "",
    v_sql: str | None = None,
) -> tuple[list[str], str]:
    """CTE chain through the ADC scan: returns (ctes, scored CTE name)
    where the scored CTE holds (query_id, cand_id, adc_dist)."""
    dsub = dim // m
    P = prefix
    ctes, cent, enc = _pq_ctes(
        table, id_col, vec_col, dim, m, ksub, iters, scale, prefix, v_sql
    )
    ctes.append(
        f"{P}q AS (SELECT id AS query_id, v AS qv FROM {P}v WHERE id < {query_max_id})"
    )
    ctes.append(
        f"""{P}lut AS MATERIALIZED (SELECT q.query_id, cc.sub, cc.cid,
           SUM((q.qv[CAST(cc.sub * {dsub} + cc.dim + 1 AS INT)] - cc.c)
               * (q.qv[CAST(cc.sub * {dsub} + cc.dim + 1 AS INT)] - cc.c)) AS d
         FROM {P}q q, {cent} cc GROUP BY 1, 2, 3)"""
    )
    ctes.append(
        f"""{P}adc AS (SELECT l.query_id, e.id AS cand_id, CAST(SUM(l.d) AS BIGINT) AS adc_dist
         FROM {enc} e JOIN {P}lut l
           ON e.sub = l.sub AND e.cid = l.cid AND e.id <> l.query_id
         GROUP BY 1, 2)"""
    )
    return ctes, f"{P}adc"


def pq_adc_topk_sql(
    table: str,
    id_col: str,
    vec_col: str,
    dim: int,
    m: int = 4,
    ksub: int = 16,
    iters: int = 2,
    scale: int = 1_000_000,
    query_max_id: int = 10,
    top_k: int = 5,
) -> str:
    """DuckDB twin of pq_adc_topk."""
    ctes, adc = _adc_ctes(
        table, id_col, vec_col, dim, m, ksub, iters, scale, query_max_id
    )
    body = ",\n    ".join(ctes)
    return f"""
    WITH {body}
    SELECT query_id, cand_id, adc_dist,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY adc_dist, cand_id) AS BIGINT) AS rank
    FROM {adc} QUALIFY rank <= {top_k}
    """


def _cell_ctes(
    table: str,
    id_col: str,
    vec_col: str,
    n_centroids: int,
    nprobe: int,
    query_max_id: int,
) -> list[str]:
    """IVF cell assignment as CTEs (same cosine + nonzero-norm guard as
    the sim_ivf oracles): e/cent/sc/rk/cand/probe/pairs. `pairs` carries
    the candidate's cell id (ccid) so residual chains can key their
    per-cell LUTs on it."""
    cos = ("ROUND(list_dot_product(e.dv, cent.cv) / "
           "(sqrt(list_dot_product(e.dv, e.dv)) * "
           "sqrt(list_dot_product(cent.cv, cent.cv))), 6)")
    return [
        # MATERIALIZED: see the _pq_ctes note — `e` is referenced by
        # every downstream chain and DuckDB 1.x re-inlines plain CTEs
        f"""e AS MATERIALIZED (SELECT {id_col} AS id, CAST({vec_col} AS DOUBLE[]) AS dv
         FROM {table}
         WHERE list_dot_product(CAST({vec_col} AS DOUBLE[]),
                                CAST({vec_col} AS DOUBLE[])) > 0)""",
        f"cent AS MATERIALIZED (SELECT id AS ccid, dv AS cv FROM e WHERE id < {n_centroids})",
        f"""sc AS (SELECT e.id, cent.ccid, {cos} AS sim
         FROM e CROSS JOIN cent)""",
        """rk AS (SELECT id, ccid,
                row_number() OVER (PARTITION BY id ORDER BY sim DESC, ccid) AS rn
         FROM sc)""",
        "cand AS (SELECT id AS cand_id, ccid FROM rk WHERE rn = 1)",
        f"""probe AS (SELECT id AS query_id, ccid FROM rk
         WHERE rn <= {nprobe} AND id < {query_max_id})""",
        """pairs AS (SELECT p.query_id, c.cand_id, c.ccid
         FROM probe p JOIN cand c
           ON p.ccid = c.ccid AND c.cand_id <> p.query_id)""",
    ]


def ivfpq_topk_sql(
    table: str,
    id_col: str,
    vec_col: str,
    dim: int,
    m: int = 4,
    ksub: int = 16,
    iters: int = 2,
    scale: int = 1_000_000,
    n_centroids: int = 16,
    nprobe: int = 2,
    query_max_id: int = 10,
    top_k: int = 5,
) -> str:
    """DuckDB twin of ivfpq_topk: the PQ train/encode/LUT chain joined
    with the IVF cell-assignment CTEs; the unreferenced full-scan `adc`
    CTE is pruned by the optimizer."""
    ctes, _adc = _adc_ctes(
        table, id_col, vec_col, dim, m, ksub, iters, scale, query_max_id
    )
    ctes += _cell_ctes(table, id_col, vec_col, n_centroids, nprobe, query_max_id)
    ctes.append(
        """adcp AS (SELECT pr.query_id, pr.cand_id, CAST(SUM(l.d) AS BIGINT) AS adc_dist
         FROM pairs pr
         JOIN enc en ON en.id = pr.cand_id
         JOIN lut l ON l.query_id = pr.query_id
                   AND l.sub = en.sub AND l.cid = en.cid
         GROUP BY 1, 2)"""
    )
    body = ",\n    ".join(ctes)
    return f"""
    WITH {body}
    SELECT query_id, cand_id, adc_dist,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY adc_dist, cand_id) AS BIGINT) AS rank
    FROM adcp QUALIFY rank <= {top_k}
    """


def _residual_adc_ctes(
    table: str,
    id_col: str,
    vec_col: str,
    dim: int,
    m: int,
    ksub: int,
    iters: int,
    scale: int,
    query_max_id: int,
    P: str = "rs",
    cells: str = "",
    cw_name: str | None = None,
) -> list[str]:
    """Residual-IVFADC chain (prefixed, expects cell CTEs named
    ``{cells}cand`` / ``{cells}probe`` / ``{cells}pairs`` in the same
    WITH — :func:`_cell_ctes` for the seed cells (cells=""), or
    :func:`_trained_cell_ctes` for k-means cells): the PQ
    trainer/encoder run verbatim over residual vectors (ve - cv of the
    rn=1 cell), and the LUT is keyed per (query, probed cell) on the
    query's residual against THAT cell. ``cw_name`` overrides the
    centroid-vector CTE (ccid, cv fixed-point list) — by default it is
    derived from the seed set's own raw vectors. Produces `{P}adcp`
    (query_id, cand_id, adc_dist)."""
    dsub = dim // m
    C = cells
    res = "[" + ", ".join(
        f"r.ve[{i + 1}] - cv.cv[{i + 1}]" for i in range(dim)
    ) + "]"
    qres = "[" + ", ".join(
        f"qr.ve[{i + 1}] - cv.cv[{i + 1}]" for i in range(dim)
    ) + "]"
    pre = [
        # MATERIALIZED: see the _pq_ctes note (hot multi-referenced CTE)
        f"""{P}rw AS MATERIALIZED (SELECT {id_col} AS id,
             list_transform(CAST({vec_col} AS DOUBLE[]),
                            x -> CAST(ROUND(x * {scale}) AS BIGINT)) AS ve
           FROM {table})""",
    ]
    if cw_name is None:
        cw_name = f"{P}cw"
        pre.append(
            f"""{P}cw AS (SELECT c.ccid, r.ve AS cv
           FROM cent c JOIN {P}rw r ON r.id = c.ccid)"""
        )
    v_sql = f"""SELECT r.id, {res} AS v
        FROM {P}rw r JOIN {C}cand c ON c.cand_id = r.id
        JOIN {cw_name} cv ON cv.ccid = c.ccid"""
    ctes, cent_name, enc = _pq_ctes(
        table, id_col, vec_col, dim, m, ksub, iters, scale, prefix=P, v_sql=v_sql
    )
    ctes = pre + ctes
    ctes.append(
        f"""{P}ql AS (SELECT p.query_id, p.ccid, {qres} AS qv
         FROM {C}probe p JOIN {P}rw qr ON qr.id = p.query_id
         JOIN {cw_name} cv ON cv.ccid = p.ccid)"""
    )
    ctes.append(
        f"""{P}lt AS (SELECT q.query_id, q.ccid, cc.sub, cc.cid,
           SUM((q.qv[CAST(cc.sub * {dsub} + cc.dim + 1 AS INT)] - cc.c)
               * (q.qv[CAST(cc.sub * {dsub} + cc.dim + 1 AS INT)] - cc.c)) AS d
         FROM {P}ql q, {cent_name} cc GROUP BY 1, 2, 3, 4)"""
    )
    ctes.append(
        f"""{P}adcp AS (SELECT pr.query_id, pr.cand_id, CAST(SUM(l.d) AS BIGINT) AS adc_dist
         FROM {C}pairs pr
         JOIN {enc} en ON en.id = pr.cand_id
         JOIN {P}lt l ON l.query_id = pr.query_id AND l.ccid = pr.ccid
                     AND l.sub = en.sub AND l.cid = en.cid
         GROUP BY 1, 2)"""
    )
    return ctes


def ivfpq_residual_topk_sql(
    table: str,
    id_col: str,
    vec_col: str,
    dim: int,
    m: int = 4,
    ksub: int = 16,
    iters: int = 2,
    scale: int = 1_000_000,
    n_centroids: int = 16,
    nprobe: int = 2,
    query_max_id: int = 10,
    top_k: int = 5,
) -> str:
    """DuckDB twin of ivfpq_residual_topk."""
    ctes = _cell_ctes(table, id_col, vec_col, n_centroids, nprobe, query_max_id)
    ctes += _residual_adc_ctes(
        table, id_col, vec_col, dim, m, ksub, iters, scale, query_max_id
    )
    body = ",\n    ".join(ctes)
    return f"""
    WITH {body}
    SELECT query_id, cand_id, adc_dist,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY adc_dist, cand_id) AS BIGINT) AS rank
    FROM rsadcp QUALIFY rank <= {top_k}
    """


def ivfpq_recall_sql(
    table: str,
    id_col: str,
    vec_col: str,
    dim: int,
    m: int = 4,
    ksub: int = 16,
    iters: int = 2,
    scale: int = 1_000_000,
    n_centroids: int = 16,
    nprobe: int = 2,
    query_max_id: int = 10,
    top_k: int = 5,
) -> str:
    """DuckDB twin of ivfpq_recall_eval: raw-code and residual-code
    IVFADC recall@k against exact fixed-point L2 over the nonzero
    candidate universe, two rows via UNION ALL — both full chains share
    one WITH clause through the prefix machinery."""
    ctes, _adc = _adc_ctes(
        table, id_col, vec_col, dim, m, ksub, iters, scale, query_max_id
    )
    ctes += _cell_ctes(table, id_col, vec_col, n_centroids, nprobe, query_max_id)
    ctes.append(
        """adcp AS (SELECT pr.query_id, pr.cand_id, CAST(SUM(l.d) AS BIGINT) AS adc_dist
         FROM pairs pr
         JOIN enc en ON en.id = pr.cand_id
         JOIN lut l ON l.query_id = pr.query_id
                   AND l.sub = en.sub AND l.cid = en.cid
         GROUP BY 1, 2)"""
    )
    ctes += _residual_adc_ctes(
        table, id_col, vec_col, dim, m, ksub, iters, scale, query_max_id
    )
    ctes.append(
        f"""xq AS (SELECT r.id AS query_id, r.ve
         FROM rsrw r JOIN e ON e.id = r.id WHERE r.id < {query_max_id})"""
    )
    ctes.append(
        f"""exd AS (SELECT q.query_id, c.id AS cand_id,
           SUM((q.ve[CAST(i + 1 AS INT)] - r.ve[CAST(i + 1 AS INT)])
               * (q.ve[CAST(i + 1 AS INT)] - r.ve[CAST(i + 1 AS INT)])) AS dist
         FROM xq q JOIN e c ON c.id <> q.query_id
         JOIN rsrw r ON r.id = c.id
         CROSS JOIN range(0, {dim}) rr(i)
         GROUP BY 1, 2)"""
    )
    ctes.append(
        f"""ext AS MATERIALIZED (SELECT query_id, cand_id FROM (
           SELECT query_id, cand_id,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY dist, cand_id) AS rn
           FROM exd) WHERE rn <= {top_k})"""
    )
    variant_rows = []
    for variant, src in (("raw", "adcp"), ("residual", "rsadcp")):
        ctes.append(
            f"""{variant}t AS (SELECT query_id, cand_id FROM (
           SELECT query_id, cand_id,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY adc_dist, cand_id) AS rn
           FROM {src}) WHERE rn <= {top_k})"""
        )
        ctes.append(
            f"""{variant}m AS (SELECT t.query_id, COUNT(*) AS n_true,
                SUM(CASE WHEN a.cand_id IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
         FROM ext t LEFT JOIN {variant}t a
           ON t.query_id = a.query_id AND t.cand_id = a.cand_id
         GROUP BY 1)"""
        )
        variant_rows.append(
            f"""SELECT '{variant}' AS variant,
           CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST({top_k} AS BIGINT) AS k,
           CAST(SUM(n_hit * 1000000 // n_true) // COUNT(*) AS BIGINT)
               AS mean_recall_ppm,
           CAST(MIN(n_hit * 1000000 // n_true) AS BIGINT) AS min_recall_ppm
    FROM {variant}m"""
        )
    body = ",\n    ".join(ctes)
    union = "\n    UNION ALL\n    ".join(variant_rows)
    return f"""
    WITH {body}
    {union}
    """


def pq_recall_sql(
    table: str,
    id_col: str,
    vec_col: str,
    dim: int,
    m: int = 4,
    ksub: int = 16,
    iters: int = 2,
    scale: int = 1_000_000,
    query_max_id: int = 10,
    top_k: int = 5,
) -> str:
    """DuckDB twin of pq_recall_eval."""
    ctes, adc = _adc_ctes(
        table, id_col, vec_col, dim, m, ksub, iters, scale, query_max_id
    )
    ctes.append(
        f"""exd AS (SELECT q.query_id, vv.id AS cand_id,
           SUM((q.qv[CAST(i + 1 AS INT)] - vv.v[CAST(i + 1 AS INT)])
               * (q.qv[CAST(i + 1 AS INT)] - vv.v[CAST(i + 1 AS INT)])) AS dist
         FROM q, v vv, range(0, {dim}) r(i)
         WHERE vv.id <> q.query_id GROUP BY 1, 2)"""
    )
    ctes.append(
        f"""ext AS MATERIALIZED (SELECT query_id, cand_id FROM (
           SELECT query_id, cand_id,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY dist, cand_id) AS rn
           FROM exd) WHERE rn <= {top_k})"""
    )
    ctes.append(
        f"""adct AS (SELECT query_id, cand_id FROM (
           SELECT query_id, cand_id,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY adc_dist, cand_id) AS rn
           FROM {adc}) WHERE rn <= {top_k})"""
    )
    ctes.append(
        """mm AS (SELECT t.query_id, COUNT(*) AS n_true,
                SUM(CASE WHEN a.cand_id IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
         FROM ext t LEFT JOIN adct a
           ON t.query_id = a.query_id AND t.cand_id = a.cand_id
         GROUP BY 1)"""
    )
    ctes.append(
        "rr AS (SELECT query_id, n_hit * 1000000 // n_true AS recall_ppm FROM mm)"
    )
    body = ",\n    ".join(ctes)
    return f"""
    WITH {body}
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST({top_k} AS BIGINT) AS k,
           CAST(SUM(recall_ppm) // COUNT(*) AS BIGINT) AS mean_recall_ppm,
           CAST(MIN(recall_ppm) AS BIGINT) AS min_recall_ppm
    FROM rr
    """


# ---------------------------------------------------------------------------
# Trained coarse cells (round 10): k-means IVF centroids, the Faiss default
# ---------------------------------------------------------------------------
# Everywhere else in the catalog the IVF coarse quantizer is the
# deterministic seed set (id < n_centroids) — cheap, oracle-friendly,
# but unclustered: SCALE.md's r9 recall eval measured residual IVFADC
# LOSING on such cells because residuals against arbitrary seed vectors
# aren't centered. Faiss trains the coarse quantizer with k-means; this
# section is that recipe under the same exact-fixed-point oracle gate:
# cells from clustering.kmeans_lloyd (integer Lloyd rounds), assignment
# by exact integer squared-L2 (ties to the lower cid), and the full
# 2x2 (raw|residual) x (seed|trained) recall eval.


def _ranked_cells(fixed: DataFrame, cents: dict[int, list[int]],
                  nprobe: int) -> DataFrame:
    """(id, v, cid, rn): each fixed-point vector's `nprobe` nearest
    TRAINED cells by exact integer squared-L2, ties to the lower cid.

    Map-only Arrow stage (the same design as the module's bulk encode):
    centroids ride as a broadcast numpy constant and each batch does one
    vectorized int64 distance per centroid + a stable argsort — an
    earlier inline-expression version (k structs x dim-term folds) cost
    the optimizer/codegen seconds per RUN at k=16 x dim=64 (measured
    3-4 s per trained query in the r10 bench), exactly the 64 KB-trap
    shape the PQ trainer's docstring warns about. Exact int64 with a
    loud domain guard (numpy wraps silently where the JVM path raised
    ANSI overflow, so the guard re-creates the fail-loudly contract:
    dims * max|diff|^2 must stay under 2^63)."""
    import numpy as np

    ks = sorted(int(c) for c in cents)
    C = np.array([cents[c] for c in ks], dtype=np.int64)  # k x dim
    cid_of = np.array(ks, dtype=np.int64)
    k = len(ks)
    take = min(nprobe, k)

    def _gen(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.array(pdf["v"].tolist(), dtype=np.int64)  # n x dim
            span = int(np.abs(V).max(initial=0)) + int(np.abs(C).max(initial=0))
            if V.shape[1] * span * span >= 2**63:
                raise ArithmeticError(
                    "_ranked_cells: fixed-point magnitude exceeds the "
                    "exact-int64 squared-L2 domain (dims * (2*|x|*scale)^2 "
                    "< 2^63); input is corrupted or mis-scaled"
                )
            d = np.stack(
                [((V - C[j]) ** 2).sum(axis=1) for j in range(k)], axis=1
            )  # n x k exact int64
            order = np.argsort(d, axis=1, kind="stable")[:, :take]
            n = len(pdf)
            yield pd.DataFrame(
                {
                    "id": np.repeat(pdf["id"].to_numpy(), take),
                    "v": [v for v in pdf["v"] for _ in range(take)],
                    "cid": cid_of[order].reshape(-1),
                    "rn": np.tile(np.arange(1, take + 1, dtype=np.int64), n),
                }
            )

    return fixed.mapInPandas(_gen, "id long, v array<long>, cid long, rn long")


def _trained_pairs(df: DataFrame, id_col: str, vec_col: str,
                   cents: dict[int, list[int]], scale: int, nprobe: int,
                   query_max_id: int):
    """(pairs, fixed): the IVFADC candidate pairs over trained cells —
    pairs carries (query_id, cand_id, cid); fixed is the nonzero
    fixed-point vector frame (reused for LUT query rows)."""
    from .similarity import nonzero_vectors

    nz = nonzero_vectors(df, vec_col)
    fixed = _fixed_vecs(nz, id_col, vec_col, scale)
    ranked = _ranked_cells(fixed, cents, nprobe)
    cand = ranked.filter(F.col("rn") == 1).select(
        F.col("id").alias("cand_id"), "cid"
    )
    probes = (
        ranked.filter((F.col("rn") <= nprobe) & (F.col("id") < query_max_id))
        .select(F.col("id").alias("query_id"), "cid")
    )
    pairs = (
        cand.join(F.broadcast(probes), "cid")
        .filter(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id", "cid")
    )
    return pairs, fixed


def ivfpq_trained_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    books: Codebook,
    dim: int,
    m: int = 4,
    ksub: int = 16,
    scale: int = 1_000_000,
    n_centroids: int = 16,
    cell_iters: int = 2,
    nprobe: int = 2,
    query_max_id: int = 10,
    top_k: int = 5,
    codes: DataFrame | None = None,
    cents: dict[int, list[int]] | None = None,
    pairs_fixed: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """(query_id, cand_id, adc_dist, rank): IVFADC over TRAINED coarse
    cells — identical to :func:`ivfpq_topk` except the cells come from
    integer-Lloyd k-means (clustering.kmeans_lloyd) instead of the seed
    vectors, and assignment is exact integer squared-L2 (the metric the
    cells were trained under) instead of cosine. The PQ codebook/codes
    are the SAME raw ones (cell choice and code compression are
    independent axes in Faiss's IVFADC).

    ``pairs_fixed`` optionally supplies a precomputed/persisted
    ``_trained_pairs`` result so an eval running raw AND residual codes
    over the same trained cells pays for the ranked assignment once
    (r12)."""
    from .clustering import kmeans_centroids

    _check_dims(dim, m)
    if cents is None:
        cents = kmeans_centroids(
            df, id_col, vec_col, k=n_centroids, iters=cell_iters, scale=scale
        )
    pairs, fixed = pairs_fixed if pairs_fixed is not None else _trained_pairs(
        df, id_col, vec_col, cents, scale, nprobe, query_max_id
    )
    if codes is None:
        codes = pq_encode(df, id_col, vec_col, books, dim, m, ksub, scale)
    dsub = dim // m
    qrows = fixed.filter(F.col("id") < query_max_id).collect()
    lut = _driver_lut_frame(df.sparkSession, qrows, books, m, ksub, dsub)
    scored = (
        pairs.select("query_id", "cand_id")
        .join(codes.withColumnRenamed("id", "cand_id"), "cand_id")
        .join(F.broadcast(lut), "query_id")
        .select("query_id", "cand_id", F.expr(_adc_dist_sql(m)).alias("adc_dist"))
    )
    return _rank_topk(scored, top_k)


def trained_residual_frame(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    cents: dict[int, list[int]],
    scale: int = 1_000_000,
) -> DataFrame:
    """(id, rv, cid): every nonzero vector's EXACT fixed-point residual
    against its rn=1 TRAINED cell centroid — the residual Faiss's
    IVFADC actually quantizes once the coarse quantizer is trained:
    k-means centers each cell's residual cloud near zero, which is what
    lets the residual codebook outspend the raw one (see
    ivfpq_trained_recall_eval for the measured comparison)."""
    from .similarity import nonzero_vectors

    nz = nonzero_vectors(df, vec_col)
    fixed = _fixed_vecs(nz, id_col, vec_col, scale)
    assigned = _ranked_cells(fixed, cents, 1)
    cent_df = df.sparkSession.createDataFrame(
        [(int(cid), [int(x) for x in cv]) for cid, cv in sorted(cents.items())],
        "cid long, cv array<long>",
    )
    return assigned.join(F.broadcast(cent_df), "cid").select(
        "id",
        F.zip_with(F.col("v"), F.col("cv"), lambda x, y: x - y).alias("rv"),
        "cid",
    )


def ivfpq_trained_residual_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    books: Codebook,
    dim: int,
    m: int = 4,
    ksub: int = 16,
    scale: int = 1_000_000,
    n_centroids: int = 16,
    cell_iters: int = 2,
    nprobe: int = 2,
    query_max_id: int = 10,
    top_k: int = 5,
    codes: DataFrame | None = None,
    cents: dict[int, list[int]] | None = None,
    pairs_fixed: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """(query_id, cand_id, adc_dist, rank): the FULL Faiss IVFADC
    default — k-means coarse cells AND residual PQ codes. ``books``
    must be trained on :func:`trained_residual_frame` output
    (already_fixed=True); the per-(query, probed cell) LUT uses the
    query's residual against that trained centroid. ``pairs_fixed``:
    see :func:`ivfpq_trained_topk` (shared-cells eval path, r12)."""
    from .clustering import kmeans_centroids

    _check_dims(dim, m)
    dsub = dim // m
    if cents is None:
        cents = kmeans_centroids(
            df, id_col, vec_col, k=n_centroids, iters=cell_iters, scale=scale
        )
    pairs, fixed = pairs_fixed if pairs_fixed is not None else _trained_pairs(
        df, id_col, vec_col, cents, scale, nprobe, query_max_id
    )
    if codes is None:
        codes = pq_encode(
            trained_residual_frame(df, id_col, vec_col, cents, scale),
            "id", "rv", books, dim, m, ksub, scale, already_fixed=True,
        )
    qrows = fixed.filter(F.col("id") < query_max_id).collect()
    lut_rows = []
    for r in qrows:
        for ccid, cv in sorted(cents.items()):
            qres = [int(a) - int(b) for a, b in zip(r["v"], cv)]
            lut_rows.append(
                (
                    int(r["id"]),
                    int(ccid),
                    [
                        [
                            _sub_sq_dist_py(qres, s, dsub, books[(s, c)])
                            for c in range(ksub)
                        ]
                        for s in range(m)
                    ],
                )
            )
    lut = df.sparkSession.createDataFrame(
        lut_rows, "query_id long, cid long, lut array<array<long>>"
    )
    scored = (
        pairs.join(codes.withColumnRenamed("id", "cand_id"), "cand_id")
        .join(F.broadcast(lut), ["query_id", "cid"])
        .select("query_id", "cand_id", F.expr(_adc_dist_sql(m)).alias("adc_dist"))
    )
    return _rank_topk(scored, top_k)


def exact_l2_truth(
    vecs: DataFrame, query_max_id: int = 10, top_k: int = 5
) -> DataFrame:
    """(query_id, cand_id): the exact fixed-point squared-L2 top-``top_k``
    per query (id < ``query_max_id``) over the candidate universe
    ``vecs`` — an (id, v) frame of fixed-point integer vectors — self
    excluded, distance ties to the lower cand_id. Returned UNPERSISTED;
    callers that consume it more than once persist it (``_cache.persist``).

    This relation is invariant under a common PERMUTATION of the vector
    coordinates: per-element fixed-point rounding commutes with
    reordering, and the integer squared-L2 sum is order-independent —
    so one truth serves both halves of the OPQ axis-permutation eval
    (r13; pinned by test_opq's truth-invariance test)."""
    queries = vecs.filter(F.col("id") < query_max_id).select(
        F.col("id").alias("query_id"), F.col("v").alias("qv")
    )
    exact_d = F.aggregate(
        F.zip_with(F.col("qv"), F.col("v"), lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, d: acc + d,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("cand_id").asc()
    )
    return (
        vecs.crossJoin(F.broadcast(queries))
        .filter(F.col("id") != F.col("query_id"))
        .select("query_id", F.col("id").alias("cand_id"), exact_d.alias("dist"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= top_k)
        .select("query_id", "cand_id")
    )


def recall_truth(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    scale: int = 1_000_000,
    query_max_id: int = 10,
    top_k: int = 5,
) -> DataFrame:
    """:func:`exact_l2_truth` over the NONZERO fixed-point vectors of a
    raw (id, vector) frame — the exact truth every IVFADC recall eval in
    this module scores against, exposed so a composition that evaluates
    several geometric variants of the same table (e.g. the OPQ base +
    permuted halves) can compute it once and pass it into each eval via
    their ``truth=`` parameter."""
    from .similarity import nonzero_vectors

    vecs = _fixed_vecs(nonzero_vectors(df, vec_col), id_col, vec_col, scale)
    return exact_l2_truth(vecs, query_max_id, top_k)


@scoped
def ivfpq_trained_recall_eval(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    raw_books: Codebook,
    res_books: Codebook,
    tres_books: Codebook,
    dim: int,
    m: int = 4,
    ksub: int = 16,
    scale: int = 1_000_000,
    n_centroids: int = 16,
    cell_iters: int = 2,
    nprobe: int = 2,
    query_max_id: int = 10,
    top_k: int = 5,
    raw_codes: DataFrame | None = None,
    res_codes: DataFrame | None = None,
    tres_codes: DataFrame | None = None,
    cents: dict[int, list[int]] | None = None,
    truth: DataFrame | None = None,
) -> DataFrame:
    """Four rows (variant, n_queries, k, mean_recall_ppm,
    min_recall_ppm): the full 2x2 — (raw | residual) codes x (seed |
    trained) coarse cells — against the same exact fixed-point L2 truth.
    This is the measured form of the Faiss design argument: residual
    quantization pays off ON TRAINED CELLS (residuals centered near
    zero), which SCALE.md's r9 eval couldn't show on seed cells.
    ``tres_books``/``tres_codes`` are trained on
    :func:`trained_residual_frame` output (the residual population
    CHANGES with the cells, so the seed-residual codebook can't be
    reused).

    ``truth`` optionally supplies an externally persisted
    :func:`recall_truth` frame (r13 —
    lets the OPQ 2x2x2 composition compute the crossJoin+window truth
    ONCE for both its halves instead of once per half)."""
    from .clustering import kmeans_centroids
    from .similarity import nonzero_vectors

    if cents is None:
        cents = kmeans_centroids(
            df, id_col, vec_col, k=n_centroids, iters=cell_iters, scale=scale
        )
    nz = nonzero_vectors(df, vec_col)
    vecs = _fixed_vecs(nz, id_col, vec_col, scale)
    # consumed twice per variant x FOUR variants — materialize once
    # (r12; size-gated r13)
    if truth is None:
        truth = persist(exact_l2_truth(vecs, query_max_id, top_k), source=df)

    def _ppm(approx: DataFrame, variant: str) -> DataFrame:
        per_q = truth.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_true"))
        hits = (
            truth.join(
                approx.select("query_id", "cand_id"),
                ["query_id", "cand_id"],
                "left_semi",
            )
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).alias("n_hit"))
        )
        r = per_q.join(hits, "query_id", "left").select(
            F.expr("coalesce(n_hit, 0) * 1000000 div n_true").alias("recall_ppm")
        )
        return r.agg(
            F.lit(variant).alias("variant"),
            F.count(F.lit(1)).cast("long").alias("n_queries"),
            F.lit(top_k).cast("long").alias("k"),
            F.expr("sum(recall_ppm) div count(1)").cast("long").alias("mean_recall_ppm"),
            F.min("recall_ppm").cast("long").alias("min_recall_ppm"),
        )

    # ONE seed-cell assignment and ONE trained-cell ranked pair set
    # serve both code variants of their half of the 2x2 (r12; persists
    # size-gated r13)
    from .similarity import ivf_assign

    assigned = persist(
        ivf_assign(nz, id_col, vec_col, n_centroids, max_rank=nprobe), source=df
    )
    tpairs, tfixed = _trained_pairs(
        df, id_col, vec_col, cents, scale, nprobe, query_max_id
    )
    tpairs = persist(tpairs, source=df)
    raw_seed = ivfpq_topk(
        df, id_col, vec_col, raw_books, dim, m, ksub, scale,
        n_centroids, nprobe, query_max_id, top_k, raw_codes, assigned=assigned,
    )
    res_seed = ivfpq_residual_topk(
        df, id_col, vec_col, res_books, dim, m, ksub, scale,
        n_centroids, nprobe, query_max_id, top_k, res_codes, assigned=assigned,
    )
    raw_tr = ivfpq_trained_topk(
        df, id_col, vec_col, raw_books, dim, m, ksub, scale,
        n_centroids, cell_iters, nprobe, query_max_id, top_k,
        raw_codes, cents, pairs_fixed=(tpairs, tfixed),
    )
    res_tr = ivfpq_trained_residual_topk(
        df, id_col, vec_col, tres_books, dim, m, ksub, scale,
        n_centroids, cell_iters, nprobe, query_max_id, top_k,
        tres_codes, cents, pairs_fixed=(tpairs, tfixed),
    )
    return (
        _ppm(raw_seed, "raw_seed")
        .unionAll(_ppm(res_seed, "residual_seed"))
        .unionAll(_ppm(raw_tr, "raw_trained"))
        .unionAll(_ppm(res_tr, "residual_trained"))
    )


def _trained_cell_ctes(
    table: str,
    id_col: str,
    vec_col: str,
    dim: int,
    n_centroids: int,
    cell_iters: int,
    scale: int,
    nprobe: int,
    query_max_id: int,
    C: str = "t",
) -> list[str]:
    """Trained-cell assignment as CTEs: the unrolled integer-Lloyd
    k-means chain (clustering.kmeans_ctes, prefixed ``{C}km``) feeding
    ``{C}cw`` (ccid, fixed-point centroid list), then exact integer
    squared-L2 ranked assignment of the NONZERO vectors — producing
    ``{C}cand`` / ``{C}probe`` / ``{C}pairs`` with the same shapes
    :func:`_cell_ctes` gives for seed cells, so the ADC tails compose
    against either."""
    from .clustering import kmeans_ctes

    ctes, final = kmeans_ctes(
        table, id_col, vec_col, dim, k=n_centroids, iters=cell_iters,
        scale=scale, prefix=f"{C}km",
    )
    # MATERIALIZED: see the _pq_ctes note (hot multi-referenced CTEs)
    ctes.append(
        f"""{C}cw AS MATERIALIZED (SELECT cid AS ccid, list(c ORDER BY dim) AS cv
         FROM {final} GROUP BY cid)"""
    )
    ctes.append(
        f"""{C}e AS MATERIALIZED (SELECT {id_col} AS id,
           list_transform(CAST({vec_col} AS DOUBLE[]),
                          x -> CAST(ROUND(x * {scale}) AS BIGINT)) AS ve
         FROM {table}
         WHERE list_dot_product(CAST({vec_col} AS DOUBLE[]),
                                CAST({vec_col} AS DOUBLE[])) > 0)"""
    )
    ctes.append(
        f"""{C}d AS (SELECT e.id, c.ccid,
           SUM((e.ve[CAST(i + 1 AS INT)] - c.cv[CAST(i + 1 AS INT)])
               * (e.ve[CAST(i + 1 AS INT)] - c.cv[CAST(i + 1 AS INT)])) AS dist
         FROM {C}e e CROSS JOIN {C}cw c CROSS JOIN range(0, {dim}) r(i)
         GROUP BY 1, 2)"""
    )
    ctes.append(
        f"""{C}rk AS (SELECT id, ccid,
           row_number() OVER (PARTITION BY id ORDER BY dist, ccid) AS rn
         FROM {C}d)"""
    )
    ctes.append(
        f"{C}cand AS (SELECT id AS cand_id, ccid FROM {C}rk WHERE rn = 1)"
    )
    ctes.append(
        f"""{C}probe AS (SELECT id AS query_id, ccid FROM {C}rk
         WHERE rn <= {nprobe} AND id < {query_max_id})"""
    )
    ctes.append(
        f"""{C}pairs AS (SELECT p.query_id, c.cand_id, c.ccid
         FROM {C}probe p JOIN {C}cand c
           ON p.ccid = c.ccid AND c.cand_id <> p.query_id)"""
    )
    return ctes


def ivfpq_trained_topk_sql(
    table: str,
    id_col: str,
    vec_col: str,
    dim: int,
    m: int = 4,
    ksub: int = 16,
    iters: int = 2,
    scale: int = 1_000_000,
    n_centroids: int = 16,
    cell_iters: int = 2,
    nprobe: int = 2,
    query_max_id: int = 10,
    top_k: int = 5,
) -> str:
    """DuckDB twin of ivfpq_trained_topk: the raw-PQ train/encode/LUT
    chain joined with the TRAINED cell-assignment CTEs."""
    ctes, _adc = _adc_ctes(
        table, id_col, vec_col, dim, m, ksub, iters, scale, query_max_id
    )
    ctes += _trained_cell_ctes(
        table, id_col, vec_col, dim, n_centroids, cell_iters, scale,
        nprobe, query_max_id,
    )
    ctes.append(
        """tadcp AS (SELECT pr.query_id, pr.cand_id,
           CAST(SUM(l.d) AS BIGINT) AS adc_dist
         FROM tpairs pr
         JOIN enc en ON en.id = pr.cand_id
         JOIN lut l ON l.query_id = pr.query_id
                   AND l.sub = en.sub AND l.cid = en.cid
         GROUP BY 1, 2)"""
    )
    body = ",\n    ".join(ctes)
    return f"""
    WITH {body}
    SELECT query_id, cand_id, adc_dist,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY adc_dist, cand_id) AS BIGINT) AS rank
    FROM tadcp QUALIFY rank <= {top_k}
    """


def ivfpq_trained_recall_sql(
    table: str,
    id_col: str,
    vec_col: str,
    dim: int,
    m: int = 4,
    ksub: int = 16,
    iters: int = 2,
    scale: int = 1_000_000,
    n_centroids: int = 16,
    cell_iters: int = 2,
    nprobe: int = 2,
    query_max_id: int = 10,
    top_k: int = 5,
) -> str:
    """DuckDB twin of ivfpq_trained_recall_eval: all four approximate
    chains (raw|residual x seed|trained) plus the exact truth in ONE
    WITH clause, four rows via UNION ALL."""
    ctes, _adc = _adc_ctes(
        table, id_col, vec_col, dim, m, ksub, iters, scale, query_max_id
    )
    ctes += _cell_ctes(table, id_col, vec_col, n_centroids, nprobe, query_max_id)
    ctes.append(
        """adcp AS (SELECT pr.query_id, pr.cand_id,
           CAST(SUM(l.d) AS BIGINT) AS adc_dist
         FROM pairs pr
         JOIN enc en ON en.id = pr.cand_id
         JOIN lut l ON l.query_id = pr.query_id
                   AND l.sub = en.sub AND l.cid = en.cid
         GROUP BY 1, 2)"""
    )
    ctes += _residual_adc_ctes(
        table, id_col, vec_col, dim, m, ksub, iters, scale, query_max_id
    )
    ctes += _trained_cell_ctes(
        table, id_col, vec_col, dim, n_centroids, cell_iters, scale,
        nprobe, query_max_id,
    )
    ctes.append(
        """tadcp AS (SELECT pr.query_id, pr.cand_id,
           CAST(SUM(l.d) AS BIGINT) AS adc_dist
         FROM tpairs pr
         JOIN enc en ON en.id = pr.cand_id
         JOIN lut l ON l.query_id = pr.query_id
                   AND l.sub = en.sub AND l.cid = en.cid
         GROUP BY 1, 2)"""
    )
    ctes += _residual_adc_ctes(
        table, id_col, vec_col, dim, m, ksub, iters, scale, query_max_id,
        P="rt", cells="t", cw_name="tcw",
    )
    # exact truth over the nonzero universe (same CTEs as ivfpq_recall_sql)
    ctes.append(
        f"""xq AS (SELECT r.id AS query_id, r.ve
         FROM rsrw r JOIN e ON e.id = r.id WHERE r.id < {query_max_id})"""
    )
    ctes.append(
        f"""exd AS (SELECT q.query_id, c.id AS cand_id,
           SUM((q.ve[CAST(i + 1 AS INT)] - r.ve[CAST(i + 1 AS INT)])
               * (q.ve[CAST(i + 1 AS INT)] - r.ve[CAST(i + 1 AS INT)])) AS dist
         FROM xq q JOIN e c ON c.id <> q.query_id
         JOIN rsrw r ON r.id = c.id
         CROSS JOIN range(0, {dim}) rr(i)
         GROUP BY 1, 2)"""
    )
    ctes.append(
        f"""ext AS MATERIALIZED (SELECT query_id, cand_id FROM (
           SELECT query_id, cand_id,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY dist, cand_id) AS rn
           FROM exd) WHERE rn <= {top_k})"""
    )
    variant_rows = []
    for variant, src in (
        ("raw_seed", "adcp"),
        ("residual_seed", "rsadcp"),
        ("raw_trained", "tadcp"),
        ("residual_trained", "rtadcp"),
    ):
        ctes.append(
            f"""{variant}_t AS (SELECT query_id, cand_id FROM (
           SELECT query_id, cand_id,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY adc_dist, cand_id) AS rn
           FROM {src}) WHERE rn <= {top_k})"""
        )
        ctes.append(
            f"""{variant}_m AS (SELECT t.query_id, COUNT(*) AS n_true,
                SUM(CASE WHEN a.cand_id IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
         FROM ext t LEFT JOIN {variant}_t a
           ON t.query_id = a.query_id AND t.cand_id = a.cand_id
         GROUP BY 1)"""
        )
        variant_rows.append(
            f"""SELECT '{variant}' AS variant,
           CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST({top_k} AS BIGINT) AS k,
           CAST(SUM(n_hit * 1000000 // n_true) // COUNT(*) AS BIGINT)
               AS mean_recall_ppm,
           CAST(MIN(n_hit * 1000000 // n_true) AS BIGINT) AS min_recall_ppm
    FROM {variant}_m"""
        )
    body = ",\n    ".join(ctes)
    union = "\n    UNION ALL\n    ".join(variant_rows)
    return f"""
    WITH {body}
    {union}
    """


@scoped
def ivfpq_probe_frontier(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    books: Codebook,
    dim: int,
    m: int = 4,
    ksub: int = 16,
    scale: int = 1_000_000,
    n_centroids: int = 16,
    cell_iters: int = 2,
    probes: tuple[int, ...] = (1, 2, 4),
    query_max_id: int = 10,
    top_k: int = 5,
    codes: DataFrame | None = None,
    cents: dict[int, list[int]] | None = None,
) -> DataFrame:
    """The nprobe FRONTIER, one row per nprobe: (nprobe, n_queries, k,
    mean_recall_ppm, min_recall_ppm, total_pairs) — recall@k against
    exact fixed-point L2 next to the TOTAL candidate-pair count the
    scan paid for it, over trained k-means cells. This is the serving
    knob's decision table: nprobe buys recall linearly in scan cost, and
    a deployment reads this frontier (on a sample) to place itself —
    exactly how Faiss deployments tune nprobe. Everything is exact
    integers; one ranked assignment at max(probes) serves every row."""
    from .clustering import kmeans_centroids
    from .similarity import nonzero_vectors

    _check_dims(dim, m)
    if not probes:
        raise ValueError("ivfpq_probe_frontier: probes must be non-empty")
    if cents is None:
        cents = kmeans_centroids(
            df, id_col, vec_col, k=n_centroids, iters=cell_iters, scale=scale
        )
    max_np = max(probes)
    nz = nonzero_vectors(df, vec_col)
    fixed = _fixed_vecs(nz, id_col, vec_col, scale)
    # persists size-gated r13
    ranked = persist(_ranked_cells(fixed, cents, max_np), source=df)
    if codes is None:
        codes = pq_encode(df, id_col, vec_col, books, dim, m, ksub, scale)
    dsub = dim // m
    cand = ranked.filter(F.col("rn") == 1).select(
        F.col("id").alias("cand_id"), "cid"
    )
    qrows = fixed.filter(F.col("id") < query_max_id).collect()
    lut = _driver_lut_frame(df.sparkSession, qrows, books, m, ksub, dsub)
    truth = persist(exact_l2_truth(fixed, query_max_id, top_k), source=df)
    rows = None
    for np_ in probes:
        probes_df = (
            ranked.filter(
                (F.col("rn") <= np_) & (F.col("id") < query_max_id)
            )
            .select(F.col("id").alias("query_id"), "cid")
        )
        pairs = (
            cand.join(F.broadcast(probes_df), "cid")
            .filter(F.col("cand_id") != F.col("query_id"))
            .select("query_id", "cand_id")
        )
        scored = (
            pairs.join(codes.withColumnRenamed("id", "cand_id"), "cand_id")
            .join(F.broadcast(lut), "query_id")
            .select(
                "query_id", "cand_id",
                F.expr(_adc_dist_sql(m)).alias("adc_dist"),
            )
        )
        approx = _rank_topk(scored, top_k).select("query_id", "cand_id")
        per_q = truth.groupBy("query_id").agg(
            F.count(F.lit(1)).alias("n_true")
        )
        hits = (
            truth.join(approx, ["query_id", "cand_id"], "left_semi")
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).alias("n_hit"))
        )
        npairs = pairs.agg(
            F.count(F.lit(1)).cast("long").alias("total_pairs")
        )
        row = (
            per_q.join(hits, "query_id", "left")
            .select(
                F.expr("coalesce(n_hit, 0) * 1000000 div n_true").alias(
                    "recall_ppm"
                )
            )
            .agg(
                F.lit(np_).cast("long").alias("nprobe"),
                F.count(F.lit(1)).cast("long").alias("n_queries"),
                F.lit(top_k).cast("long").alias("k"),
                F.expr("sum(recall_ppm) div count(1)")
                .cast("long")
                .alias("mean_recall_ppm"),
                F.min("recall_ppm").cast("long").alias("min_recall_ppm"),
            )
            .crossJoin(F.broadcast(npairs))
        )
        rows = row if rows is None else rows.unionAll(row)
    return rows


def ivfpq_probe_frontier_sql(
    table: str,
    id_col: str,
    vec_col: str,
    dim: int,
    m: int = 4,
    ksub: int = 16,
    iters: int = 2,
    scale: int = 1_000_000,
    n_centroids: int = 16,
    cell_iters: int = 2,
    probes: tuple[int, ...] = (1, 2, 4),
    query_max_id: int = 10,
    top_k: int = 5,
) -> str:
    """DuckDB twin of ivfpq_probe_frontier: the trained-cell chain once
    (ranked to max(probes)), then per-nprobe probe/pairs/ADC/recall
    CTEs, one UNION ALL row each."""
    max_np = max(probes)
    ctes, _adc = _adc_ctes(
        table, id_col, vec_col, dim, m, ksub, iters, scale, query_max_id
    )
    ctes += _trained_cell_ctes(
        table, id_col, vec_col, dim, n_centroids, cell_iters, scale,
        max_np, query_max_id,
    )
    # exact truth over the nonzero universe (te carries fixed vectors)
    ctes.append(
        f"""fxq AS (SELECT id AS query_id, ve FROM te WHERE id < {query_max_id})"""
    )
    ctes.append(
        f"""fexd AS (SELECT q.query_id, c.id AS cand_id,
           SUM((q.ve[CAST(i + 1 AS INT)] - c.ve[CAST(i + 1 AS INT)])
               * (q.ve[CAST(i + 1 AS INT)] - c.ve[CAST(i + 1 AS INT)])) AS dist
         FROM fxq q JOIN te c ON c.id <> q.query_id
         CROSS JOIN range(0, {dim}) rr(i)
         GROUP BY 1, 2)"""
    )
    ctes.append(
        f"""fext AS MATERIALIZED (SELECT query_id, cand_id FROM (
           SELECT query_id, cand_id,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY dist, cand_id) AS rn
           FROM fexd) WHERE rn <= {top_k})"""
    )
    union_rows = []
    for np_ in probes:
        P = f"f{np_}"
        ctes.append(
            f"""{P}probe AS (SELECT id AS query_id, ccid FROM trk
             WHERE rn <= {np_} AND id < {query_max_id})"""
        )
        ctes.append(
            f"""{P}pairs AS (SELECT p.query_id, c.cand_id
             FROM {P}probe p JOIN tcand c
               ON p.ccid = c.ccid AND c.cand_id <> p.query_id)"""
        )
        ctes.append(
            f"""{P}adcp AS (SELECT pr.query_id, pr.cand_id,
               CAST(SUM(l.d) AS BIGINT) AS adc_dist
             FROM {P}pairs pr
             JOIN enc en ON en.id = pr.cand_id
             JOIN lut l ON l.query_id = pr.query_id
                       AND l.sub = en.sub AND l.cid = en.cid
             GROUP BY 1, 2)"""
        )
        ctes.append(
            f"""{P}t AS (SELECT query_id, cand_id FROM (
               SELECT query_id, cand_id,
                      row_number() OVER (PARTITION BY query_id
                                         ORDER BY adc_dist, cand_id) AS rn
               FROM {P}adcp) WHERE rn <= {top_k})"""
        )
        ctes.append(
            f"""{P}m AS (SELECT t.query_id, COUNT(*) AS n_true,
                SUM(CASE WHEN a.cand_id IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
             FROM fext t LEFT JOIN {P}t a
               ON t.query_id = a.query_id AND t.cand_id = a.cand_id
             GROUP BY 1)"""
        )
        ctes.append(
            f"""{P}c AS (SELECT CAST(COUNT(*) AS BIGINT) AS total_pairs
             FROM {P}pairs)"""
        )
        union_rows.append(
            f"""SELECT CAST({np_} AS BIGINT) AS nprobe,
           CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST({top_k} AS BIGINT) AS k,
           CAST(SUM(n_hit * 1000000 // n_true) // COUNT(*) AS BIGINT)
               AS mean_recall_ppm,
           CAST(MIN(n_hit * 1000000 // n_true) AS BIGINT) AS min_recall_ppm,
           (SELECT total_pairs FROM {P}c) AS total_pairs
    FROM {P}m"""
        )
    body = ",\n    ".join(ctes)
    union = "\n    UNION ALL\n    ".join(union_rows)
    return f"""
    WITH {body}
    {union}
    """


@scoped
def ivfpq_operating_point(
    frontier: DataFrame, within: float = 0.05
) -> DataFrame:
    """Layer the serving-knob DECISION onto a measured frontier: the
    frontier rows plus ``chosen`` — true on exactly the row
    :func:`choose_default_nprobe` would pick (smallest nprobe whose
    mean recall is within ``within`` of the best). Same integer
    basis-point rule on both engines
    (:func:`ivfpq_operating_point_sql`), so the selection logic itself
    sits under the oracle hash gate — this is the row whose nprobe
    :func:`ivfpq_build_index` persists as the index's default.

    Scale shape: the frontier is a #probes-row aggregate (3 rows); the
    max/min reductions and the join-back all ride 1-row broadcasts."""
    thr_bp = round((1.0 - within) * 10_000)
    f = persist(frontier)
    mx = f.agg(F.max("mean_recall_ppm").alias("_best"))
    best = (
        f.crossJoin(F.broadcast(mx))
        .filter(F.col("mean_recall_ppm") * 10_000 >= F.col("_best") * thr_bp)
        .agg(F.min("nprobe").alias("_chosen"))
    )
    return f.crossJoin(F.broadcast(best)).select(
        "nprobe", "n_queries", "k", "mean_recall_ppm", "min_recall_ppm",
        "total_pairs",
        (F.col("nprobe") == F.col("_chosen")).alias("chosen"),
    )


def ivfpq_operating_point_sql(
    table: str,
    id_col: str,
    vec_col: str,
    dim: int,
    m: int = 4,
    ksub: int = 16,
    iters: int = 2,
    scale: int = 1_000_000,
    n_centroids: int = 16,
    cell_iters: int = 2,
    probes: tuple[int, ...] = (1, 2, 4),
    query_max_id: int = 10,
    top_k: int = 5,
    within: float = 0.05,
) -> str:
    """DuckDB twin of :func:`ivfpq_operating_point` over the full
    frontier chain (nested WITH — DuckDB scopes a CTE body's own WITH
    clause correctly)."""
    inner = ivfpq_probe_frontier_sql(
        table, id_col, vec_col, dim, m, ksub, iters, scale,
        n_centroids, cell_iters, probes, query_max_id, top_k,
    )
    thr_bp = round((1.0 - within) * 10_000)
    return f"""
    WITH frontier AS ({inner})
    SELECT nprobe, n_queries, k, mean_recall_ppm, min_recall_ppm,
           total_pairs,
           nprobe = (SELECT MIN(nprobe) FROM frontier
                     WHERE mean_recall_ppm * 10000 >=
                           {thr_bp} * (SELECT MAX(mean_recall_ppm)
                                       FROM frontier)) AS chosen
    FROM frontier
    """

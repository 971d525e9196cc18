"""Distributed k-means (Lloyd iterations) over embedding vectors.

The iterative-ML companion to graph.py's PageRank/CC loops: every round
is (assign: argmin over k centroids) + (update: per-(cluster, dim) mean),
expressed so BOTH engines produce bit-identical results:

- all arithmetic is FIXED-POINT INTEGER (elements snapped to 1e-6 units);
  squared-L2 distances are exact BIGINT sums, so the argmin is order-free;
- centroid updates floor-divide exact integer sums (FLOOR over an exact
  double division — identical IEEE result on both engines);
- seeding is deterministic: the k vectors ranked by md5(vec_id) — a
  "random" but engine-portable shuffle of the ids.

Scale shape (MLlib's own recipe): centroids live on the driver between
rounds (k x dim integers — kilobytes, the same bounded-collect contract
as PageRank's convergence scalar), and each round ships them back as a
broadcast numpy constant into a map-only Arrow assignment stage (no
join, no shuffle; r10 — the previous inline-literal codegen form paid
optimizer seconds per round at k x dim = 16 x 64); the update is one
(cluster, dim)-keyed partial-agg shuffle of k*dim rows. Vectors are
never shuffled, never collected.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ._cache import persist, scope

__all__ = ["kmeans_lloyd", "kmeans_lloyd_sql", "kmeans_ctes", "kmeans_centroids"]


def _assign(vecs: DataFrame, cents: dict[int, list[int]]) -> DataFrame:
    """(id, v, cid): nearest centroid per vector, ties to the lower cid.

    Map-only Arrow stage: centroids ride as a broadcast numpy constant,
    one vectorized exact-int64 distance per centroid, argmin (numpy's
    first-occurrence rule = ties to the lower cid, since columns are in
    cid order). Replaces an inline array_min-over-structs expression
    whose k x dim term count cost the optimizer/codegen whole seconds
    per Lloyd ROUND at k=8-16 x dim=64 (r10 bench: cluster_kmeans and
    the trained-cell family each dropped ~3x when their assignment left
    codegen). The loud domain guard recreates the JVM path's
    ANSI-overflow contract — numpy would wrap silently."""
    import numpy as np

    ks = sorted(int(c) for c in cents)
    C = np.array([cents[c] for c in ks], dtype=np.int64)
    cid_of = np.array(ks, dtype=np.int64)
    k = len(ks)

    def _gen(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.array(pdf["v"].tolist(), dtype=np.int64)
            span = int(np.abs(V).max(initial=0)) + int(np.abs(C).max(initial=0))
            if V.shape[1] * span * span >= 2**63:
                raise ArithmeticError(
                    "kmeans _assign: fixed-point magnitude exceeds the "
                    "exact-int64 squared-L2 domain (dims * (2*|x|*scale)^2"
                    " < 2^63); input is corrupted or mis-scaled"
                )
            d = np.stack(
                [((V - C[j]) ** 2).sum(axis=1) for j in range(k)], axis=1
            )
            yield pd.DataFrame(
                {
                    "id": pdf["id"].to_numpy(),
                    "v": pdf["v"],
                    "cid": cid_of[np.argmin(d, axis=1)],
                }
            )

    return vecs.mapInPandas(_gen, "id long, v array<long>, cid long")


def kmeans_lloyd(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    iters: int = 2,
    scale: int = 1_000_000,
) -> DataFrame:
    """Run ``iters`` Lloyd rounds; return the final model in long form:
    (cluster, dim, n, centroid_e6) — n is the final assignment's cluster
    size, centroid_e6 the fixed-point coordinate. Clusters that end a
    round empty keep their previous centroid (and report n = 0), so the
    round count alone fixes the output.

    Input domain: the integer squared-L2 needs
    ``dims * (2 * |x| * scale)^2 < 2^63`` — |x| ≲ sqrt(2^63/dims) /
    (2*scale), ~190 for 64 dims at the default scale. Real embedding
    components are unit-ish, so only corrupted input trips this, and it
    fails LOUDLY on both paths rather than silently wrapping: the Spark
    assignment is a numpy Arrow stage whose guard raises
    ``ArithmeticError`` when ``dims * span^2 >= 2^63`` with
    ``span = max|v| + max|c|`` (a worst-case bound — it can reject a
    near-domain-edge input whose ACTUAL pairwise sums still fit int64
    and that the DuckDB twin would accept; by that point the input is
    already thousands of times beyond any real embedding, so the
    conservative cut is deliberate), and the SQL/DuckDB path overflows
    its BIGINT conversion. Pinned by
    ``test_fixed_point_overflow_is_loud``.
    """
    if k < 1 or iters < 1:
        raise ValueError(f"k and iters must be >= 1: k={k}, iters={iters}")
    with scope():
        vecs = persist(df.select(
            F.col(id_col).alias("id"),
            F.transform(
                F.col(vec_col), lambda x: F.round(x.cast("double") * scale).cast("long")
            ).alias("v"),
        ))
        seed_rows = (
            vecs.orderBy(F.md5(F.col("id").cast("string")), F.col("id"))
            .limit(k)
            .collect()
        )
        if len(seed_rows) < k:
            raise ValueError(f"k={k} but only {len(seed_rows)} vectors")
        cents = {cid: list(r["v"]) for cid, r in enumerate(seed_rows)}
        sizes: dict[int, int] = {}
        for _ in range(iters):
            assigned = _assign(vecs, cents)
            upd = (
                assigned.select("cid", F.posexplode("v").alias("dim", "x"))
                .groupBy("cid", "dim")
                .agg(F.count(F.lit(1)).alias("n"), F.sum("x").alias("s"))
                .select(
                    "cid",
                    "dim",
                    "n",
                    F.floor(F.col("s").cast("double") / F.col("n"))
                    .cast("long")
                    .alias("c"),
                )
                .collect()  # k*dim rows — bounded, never data-sized
            )
            new_cents = {cid: list(cvec) for cid, cvec in cents.items()}
            sizes = {cid: 0 for cid in cents}
            for r in upd:
                new_cents[r["cid"]][r["dim"]] = r["c"]
                sizes[r["cid"]] = r["n"]
            cents = new_cents
        spark = df.sparkSession
        out = [
            (cid, dim, sizes.get(cid, 0), c)
            for cid, cvec in sorted(cents.items())
            for dim, c in enumerate(cvec)
        ]
        return spark.createDataFrame(
            out, "cluster long, dim long, n long, centroid_e6 long"
        )


def kmeans_centroids(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    iters: int = 2,
    scale: int = 1_000_000,
) -> dict[int, list[int]]:
    """The trained model as ``{cid: fixed-point coordinate list}`` —
    :func:`kmeans_lloyd`'s long form collected and pivoted (k*dim rows,
    bounded metadata by construction). This is the coarse-quantizer
    training hook for IVF/IVFPQ (Faiss trains its IVF cells with exactly
    this k-means; the seed-vector cells elsewhere in the catalog are the
    deterministic stand-in)."""
    rows = kmeans_lloyd(df, id_col, vec_col, k, iters, scale).collect()
    dim = 1 + max(int(r["dim"]) for r in rows)
    cents: dict[int, list[int]] = {}
    for r in rows:
        cents.setdefault(int(r["cluster"]), [0] * dim)[int(r["dim"])] = int(
            r["centroid_e6"]
        )
    return cents


def kmeans_ctes(
    table: str,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 8,
    iters: int = 2,
    scale: int = 1_000_000,
    prefix: str = "",
) -> tuple[list[str], str]:
    """The unrolled Lloyd chain as composable CTEs: returns
    ``(ctes, final_name)`` where the final CTE holds one row per
    (cid, dim, c, n) — the trained fixed-point model. ``prefix``
    namespaces every CTE so the chain can ride inside larger oracle
    queries (e.g. the trained-cell IVFADC twins in pq.py) without
    colliding with their v/q/enc names."""
    P = prefix
    # the `{P}v` CTE aliases the id column to `id`, so the seed rank is
    # built on that literal name — NOT by string-replacing id_col into
    # the expression (a substring replace corrupts the SQL whenever the
    # id name happens to occur inside surrounding text, e.g. id_col='d'
    # would turn md5 into mid5)
    rank_on_id = "md5(CAST(id AS VARCHAR)), id"
    ctes = [
        f"""{P}v AS MATERIALIZED (SELECT {id_col} AS id,
             list_transform(CAST({vec_col} AS DOUBLE[]),
                            x -> CAST(ROUND(x * {scale}) AS BIGINT)) AS v
           FROM {table})""",
        f"""{P}seeds AS (SELECT CAST(row_number() OVER (ORDER BY {rank_on_id}) - 1
                    AS BIGINT) AS cid, v
           FROM {P}v ORDER BY {rank_on_id} LIMIT {k})""",
        f"""{P}c0 AS (SELECT cid, i AS dim, v[CAST(i + 1 AS INT)] AS c
           FROM {P}seeds CROSS JOIN range(0, {dim}) r(i))""",
    ]
    prev = f"{P}c0"
    for it in range(1, iters + 1):
        d, a, u, c = f"{P}d{it}", f"{P}a{it}", f"{P}u{it}", f"{P}c{it}"
        ctes.append(
            f"""{d} AS (SELECT vv.id, cc.cid,
               SUM((vv.v[CAST(cc.dim + 1 AS INT)] - cc.c)
                   * (vv.v[CAST(cc.dim + 1 AS INT)] - cc.c)) AS dist
             FROM {P}v vv, {prev} cc GROUP BY 1, 2)"""
        )
        ctes.append(
            f"""{a} AS (SELECT id, cid FROM (
               SELECT id, cid,
                      row_number() OVER (PARTITION BY id ORDER BY dist, cid) AS rn
               FROM {d}) WHERE rn = 1)"""
        )
        ctes.append(
            f"""{u} AS (SELECT {a}.cid, i AS dim, COUNT(*) AS n,
                      CAST(FLOOR(CAST(SUM(v.v[CAST(i + 1 AS INT)]) AS DOUBLE)
                                 / COUNT(*)) AS BIGINT) AS c
             FROM {a} JOIN {P}v v USING (id) CROSS JOIN range(0, {dim}) r(i)
             GROUP BY 1, 2)"""
        )
        ctes.append(
            f"""{c} AS (SELECT p.cid, p.dim, COALESCE(u.c, p.c) AS c,
                      COALESCE(u.n, 0) AS n
             FROM {prev} p LEFT JOIN {u} u ON p.cid = u.cid AND p.dim = u.dim)"""
        )
        prev = c
    return ctes, prev


def kmeans_lloyd_sql(
    table: str,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 8,
    iters: int = 2,
    scale: int = 1_000_000,
) -> str:
    """DuckDB twin: the Lloyd loop UNROLLED into one CTE chain per round
    (assignment via a (vec, cid, dim) sum + (dist, cid) row_number;
    update via the same floor-divided integer means; empty clusters
    COALESCE to the previous round's coordinates)."""
    ctes, final = kmeans_ctes(table, id_col, vec_col, dim, k, iters, scale)
    body = ",\n    ".join(ctes)
    return f"""
    WITH {body}
    SELECT cid AS cluster, CAST(dim AS BIGINT) AS dim,
           CAST(n AS BIGINT) AS n, CAST(c AS BIGINT) AS centroid_e6
    FROM {final}
    """

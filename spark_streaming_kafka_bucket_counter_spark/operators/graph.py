"""Connected components over near-duplicate pair graphs — the step that
turns pairwise dedup output into actionable clusters (one keeper per
component; everything else is a duplicate of it).

Algorithm: alternating large-star / small-star (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC 2014). Edges are
kept canonical as (hi, lo) pairs; each round rewires every edge toward
the minimum of its endpoint's neighborhood (large-star moves larger
neighbors, small-star collapses smaller ones), and the fixpoint is a
disjoint union of stars rooted at each component's minimum id. Unlike
plain min-label propagation — O(component diameter) rounds, linear on
chain-shaped clusters (boilerplate sharing A-B-C-...) — star alternation
halves remaining structure every round: O(log n) rounds on any graph
shape, which is what a 100 TB near-dup graph with million-node
components needs.

Scale design: each round is two (groupBy-min + hash join) passes, all
shuffling on node id, with AQE handling the skewed super-cluster case.
Convergence is detected with ONE scalar action per round: both
operations only move edge endpoints downward and never add edges, so
the (edge count, sum of endpoints) pair is monotone non-increasing and
strictly decreases whenever anything changed — equal pair == global
fixpoint, no row-level diff join. Lineage is cut per round with
``localCheckpoint`` so the plan doesn't grow with the iteration count
(the classic iterative-DataFrame trap).

The DuckDB oracle replays the same semantics declaratively with a
recursive transitive-closure CTE — exponential-ish on big graphs but
exact on oracle-scale data, which is the point: the *iterative* Spark
path and the *recursive* SQL path must agree bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ._cache import persist, scoped


def _cut_lineage(
    df: DataFrame,
    rnd: int,
    checkpoint_every: int,
    checkpoint_dir: str | None,
    eager: bool = False,
) -> DataFrame:
    """Per-round lineage cut for iterative loops.

    Default: lazy ``localCheckpoint`` — executor-local shuffle files, one
    job per round (the convergence/next-round action materializes it).
    Every ``checkpoint_every``-th round (when enabled), a RELIABLE
    ``checkpoint`` to ``checkpoint_dir`` instead: executor-local blocks
    die with their executor, so on a cluster a 100-iteration run would
    restart from round 0 on any executor loss — the reliable cadence
    bounds recomputation to ``checkpoint_every`` rounds (see DEPLOY.md).
    Reliable checkpoints are eager by API contract (the write IS the
    materialization), costing one extra job on those rounds only.
    """
    if checkpoint_every > 0 and (rnd + 1) % checkpoint_every == 0:
        spark = df.sparkSession
        if checkpoint_dir is not None:
            spark.sparkContext.setCheckpointDir(checkpoint_dir)
        elif spark.sparkContext._jsc.sc().checkpointDir().isEmpty():
            raise ValueError(
                "checkpoint_every > 0 needs a reliable checkpoint dir: pass "
                "checkpoint_dir= or call sparkContext.setCheckpointDir first"
            )
        return df.checkpoint(eager=True)
    # ``eager=True`` on the LAST round forces the whole lazy cascade to
    # materialize INSIDE the caller's pinned-conf window (r12): the
    # loop's shuffle-partition conf is restored on exit, so execution
    # must not leak past it. Intermediate rounds stay lazy — one job.
    return df.localCheckpoint(eager=eager)


@scoped
def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 25,
    checkpoint_every: int = 0,
    checkpoint_dir: str | None = None,
    check_every: int = 2,
) -> DataFrame:
    """(node, component) for every node in ``edges``; component = min
    node id reachable via undirected edges.

    Alternating large-star / small-star — O(log n) rounds regardless of
    component diameter (a 1000-node path converges in ~10 rounds where
    min-label propagation needs 1000; pytest-pinned). Per round:

    - large-star: every node connects its LARGER neighbors to the min
      of its neighborhood (incl. itself) — ``(v, m(u))`` for ``v > u``;
    - small-star: every node collapses its SMALLER-or-equal neighbors
      (the ``lo`` side of its canonical edges) onto their min, plus an
      edge from itself to that min.

    Both preserve connectivity and only move endpoints downward; the
    fixpoint is a star per component rooted at the component min, read
    out directly as the label map. The round counter of the last call
    is exposed as ``connected_components.last_n_rounds`` (diagnostic;
    also pinned by the O(log n) pytest).

    ``checkpoint_every=N`` (with ``checkpoint_dir``) swaps every N-th
    round's lineage cut for a reliable checkpoint — the knob for long
    cluster runs where executor loss must not restart the loop; see
    :func:`_cut_lineage` and DEPLOY.md.

    ``check_every`` sets the convergence-check cadence (default 2): the
    potential is monotone, so comparing stats ``check_every`` rounds
    apart still detects the fixpoint exactly (equal across the span ==
    every round in the span was identity) — it just detects it up to
    ``check_every - 1`` identity rounds later. With the lazy lineage
    cut, the check IS the per-round job, so cadence 2 halves job count:
    the dominant cost of the loop at small data, where per-job fixed
    overhead dwarfs the shuffle work. Identity rounds past the fixpoint
    are star-graph-cheap; set ``check_every=1`` on cluster runs where a
    round is genuinely expensive.
    """
    if check_every < 1:
        raise ValueError("check_every must be >= 1")
    # cache the PROJECTED pair frame once: both the canonical edge set
    # and the node universe derive from it, and `edges` is typically an
    # expensive pipeline (LSH candidate generation + verify) — without
    # the cache, building `nodes` would re-run that whole pipeline a
    # second time (measured ~3s of the dedup_clusters budget at sf0.1).
    e0 = persist(edges.select(F.col(src).alias("a"), F.col(dst).alias("b")))
    nodes = (
        e0.select(F.col("a").alias("node"))
        .unionByName(e0.select(F.col("b").alias("node")))
        .distinct()
    )
    # canonical undirected form: hi > lo, no self-loops, deduped.
    # lazy localCheckpoint: the convergence aggregate below is the action
    # that materializes each round's edge set, so a round costs ONE job.
    e = (
        e0.select(
            F.greatest(F.col("a"), F.col("b")).alias("hi"),
            F.least(F.col("a"), F.col("b")).alias("lo"),
        )
        .filter(F.col("hi") != F.col("lo"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # convergence potential: (count, sum of endpoints). decimal(38,0):
    # an int64 sum could wrap (non-ANSI) with hash-scale node ids and
    # fake a fixpoint via collision.
    _stats = [
        F.count(F.lit(1)),
        F.sum((F.col("hi") + F.col("lo")).cast("decimal(38,0)")),
    ]
    prev = tuple(e.agg(*_stats).collect()[0])
    converged = prev[0] == 0  # no edges -> every node is its own root
    rounds = 0
    from ..session import loop_shuffle_partitions, restored_conf

    spark = edges.sparkSession
    # per-round shuffles sized by the canonical edge count (already in
    # hand from the convergence potential), not the session default;
    # every round's jobs — the convergence collects — execute inside
    # this window, so the lazy cuts need no eager flag here (r12; see
    # session.loop_shuffle_partitions)
    with restored_conf(spark, "spark.sql.shuffle.partitions"):
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(loop_shuffle_partitions(spark, int(prev[0]))),
        )
        for rnd in range(max_iter):
            if converged:
                break
            # -- large-star: every edge's LARGER endpoint rewires to the min
            # of its lower endpoint's neighborhood (incl. that endpoint).
            # With canonical (hi, lo) edges, "(u, v) with v > u" is exactly
            # the reversed edge list, so no fanout filter is needed; the
            # intermediate output stays deduplication-free (|large| == |e|,
            # duplicates are harmless to the min aggregates and the single
            # end-of-round distinct), saving one shuffle per round.
            rev = e.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
            adj = e.select(F.col("hi").alias("u"), F.col("lo").alias("v")).unionByName(rev)
            m_all = adj.groupBy("u").agg(F.min("v").alias("_mv"))
            m_all = m_all.select("u", F.least("_mv", "u").alias("m"))
            large = (
                rev.join(m_all, "u")
                .select(F.col("v").alias("hi"), F.col("m").alias("lo"))
                .filter(F.col("hi") != F.col("lo"))
            )
            # -- small-star on canonical edges: per hi, its lo-neighbors
            # (all <= hi) collapse onto their min, and hi links there too.
            # groupBy + join (not a window over hi): a super-node partition
            # must stay AQE-splittable — same skew argument as boilerplate.
            m_lo = large.groupBy("hi").agg(F.min("lo").alias("m"))
            small = (
                large.join(m_lo, "hi")
                .select(F.col("lo").alias("hi"), F.col("m").alias("lo"))
                .unionByName(m_lo.select("hi", F.col("m").alias("lo")))
                .filter(F.col("hi") != F.col("lo"))
                .distinct()
            )
            e = _cut_lineage(small, rnd, checkpoint_every, checkpoint_dir)
            rounds = rnd + 1
            # convergence action only every check_every-th (or last) round:
            # skipped rounds stay lazy and are materialized by the next
            # check's job, so the span costs ONE job instead of one per round
            if rounds % check_every == 0 or rnd == max_iter - 1:
                cur = tuple(e.agg(*_stats).collect()[0])
                if cur == prev:  # monotone pair -> equal == global fixpoint
                    converged = True
                prev = cur
    connected_components.last_n_rounds = rounds
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge within max_iter={max_iter} "
            "star-alternation rounds (O(log n) expected — this graph would "
            f"need > 2^{max_iter}-ish nodes); raise max_iter rather than "
            "accepting partial labels, which would silently split clusters"
        )
    # fixpoint stars: hi -> component root lo; roots map to themselves.
    return (
        nodes.join(e.withColumnRenamed("hi", "node"), "node", "left")
        .select("node", F.coalesce(F.col("lo"), F.col("node")).alias("component"))
    )


def transitive_closure_sql(pairs_cte: str, src: str = "doc_a", dst: str = "doc_b") -> str:
    """DuckDB oracle: min reachable id per node via recursive closure.

    ``pairs_cte`` must be the name of an in-scope CTE with ``src``/``dst``
    columns. Returns SQL fragments for a WITH-chain continuation:
    und / reach CTE bodies and the final per-node component select.
    """
    return f"""
    und AS (SELECT {src} AS u, {dst} AS v FROM {pairs_cte}
            UNION SELECT {dst}, {src} FROM {pairs_cte}),
    reach(u, v) AS (
      SELECT u, u FROM (SELECT u FROM und UNION SELECT v FROM und)
      UNION
      SELECT r.u, und.v FROM reach r JOIN und ON r.v = und.u
    ),
    cc AS (SELECT u AS node, MIN(v) AS component FROM reach GROUP BY u)
    """


# ---------------------------------------------------------------------------
# PageRank (fixed-iteration, integer-exact)
# ---------------------------------------------------------------------------

PR_UNIT = 1_000_000_000  # nano-unit fixed point: total mass = 1e9


@scoped
def pagerank(
    edges: DataFrame,
    src: str,
    dst: str,
    iterations: int = 5,
    damping_pct: int = 85,
    checkpoint_every: int = 0,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Fixed-iteration PageRank over the UNDIRECTED graph of ``edges``,
    in exact nano-unit integer arithmetic: ``(node, rank_e9)`` with
    ranks summing to ~``PR_UNIT`` (floor divisions shed at most 1 unit
    per term).

    Undirected (each edge mirrored) means every node in the edge set
    has out-degree >= 1 — NO dangling mass, so one join per iteration
    suffices and the same recursion is expressible as a single-reference
    recursive CTE for the oracle (:func:`pagerank_sql`).

    Per iteration: contribution = rank // degree to each neighbor
    (integer floor — deterministic under any accumulation order), then
    ``rank' = (100 - d)% * UNIT // (100 * N) + d% * sum(contribs) // 100``.

    Scale design: one hash join (ranks x edges, both shuffled on node)
    plus one groupBy-sum per round; degrees are computed once and join
    on the same key. Lineage cut per round with lazy ``localCheckpoint``
    (same pattern as :func:`connected_components` — plan growth is the
    iterative-DataFrame trap). BIGINT sums of nano-units are exact; no
    float enters the plan.
    """
    und = persist(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .unionByName(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
    )
    deg = und.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    n_nodes = deg.count()  # tiny scalar action (also materializes `und`)
    if n_nodes == 0:
        # empty edge set -> empty result with the node column's true type
        # (a // by n_nodes below would otherwise raise ZeroDivisionError)
        return und.select(
            F.col("u").alias("node"), F.lit(0).cast("long").alias("rank_e9")
        )
    base = (100 - damping_pct) * PR_UNIT // (100 * n_nodes)
    from ..session import loop_shuffle_partitions, restored_conf

    spark = edges.sparkSession
    # per-round shuffles sized by the edge volume, not the session
    # default (r12 — see session.loop_shuffle_partitions); und is
    # persisted so the extra count action is a cache read. The whole
    # loop EXECUTES inside the pinned-conf window: the last round's
    # lineage cut is eager, which materializes the lazy cascade before
    # the conf is restored.
    n_edges = und.count()
    with restored_conf(spark, "spark.sql.shuffle.partitions"):
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(loop_shuffle_partitions(spark, n_edges)),
        )
        # degree pre-joined into the static edge frame ONCE, hash-partitioned
        # on the join key and cached: each round's ranks frame comes out of
        # its groupBy already hash(u)-partitioned (localCheckpoint preserves
        # partitioning), so the per-round join needs NO exchange on either
        # side — one join + one shuffle (the aggregation) per round instead
        # of two joins. The per-edge `r div deg` equals the per-node value
        # (deg is constant within a node's fanout).
        und_deg = persist(und.join(deg, "u").repartition("u"))
        ranks = deg.select("u", F.lit(PR_UNIT // n_nodes).cast("long").alias("r"))
        for rnd in range(iterations):
            contribs = (
                ranks.join(und_deg, "u")
                # SQL `div` = true BIGINT division (no float round-trip)
                .select(F.col("v").alias("u"), F.expr("r div deg").alias("c"))
            )
            ranks = _cut_lineage(
                contribs.groupBy("u")
                .agg(F.sum("c").alias("_s"))
                .select(
                    "u",
                    (F.lit(base) + F.expr(f"({damping_pct} * _s) div 100"))
                    .cast("long")
                    .alias("r"),
                ),
                rnd,
                checkpoint_every,
                checkpoint_dir,
                eager=rnd == iterations - 1,
            )
    return ranks.select(F.col("u").alias("node"), F.col("r").alias("rank_e9"))


def pagerank_sql(
    edges_query: str,
    src: str,
    dst: str,
    iterations: int = 5,
    damping_pct: int = 85,
) -> str:
    """DuckDB recursive-CTE twin of :func:`pagerank` — identical integer
    recursion (single reference to the recursive table per term, which
    the no-dangling undirected construction makes possible)."""
    return f"""
    und AS (
      SELECT {src} AS u, {dst} AS v FROM ({edges_query})
      UNION
      SELECT {dst} AS u, {src} AS v FROM ({edges_query})
    ),
    deg AS (SELECT u, COUNT(*) AS deg FROM und GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_nodes FROM deg),
    pr AS (
      SELECT 0 AS it, u, CAST({PR_UNIT} // n_nodes AS BIGINT) AS r
      FROM deg, n
      UNION ALL
      SELECT p.it + 1, e.v AS u,
             CAST(CAST(100 - {damping_pct} AS BIGINT) * {PR_UNIT}
                    // (100 * (SELECT n_nodes FROM n))
                  + (CAST({damping_pct} AS BIGINT) * SUM(p.r // d.deg)) // 100
                  AS BIGINT) AS r
      FROM pr p
      JOIN deg d ON p.u = d.u
      JOIN und e ON p.u = e.u
      WHERE p.it < {iterations}
      GROUP BY p.it, e.v
    )
    """


# ---------------------------------------------------------------------------
# Label propagation (synchronous, deterministic — community detection)
# ---------------------------------------------------------------------------

# argmax-as-MIN encoding: pick the (most frequent, then smallest) neighbor
# label with ONE integer MIN — enc = (CNT_CAP - cnt) * LBL_CAP + label.
# No window function needed, so the oracle stays a plain recursive CTE.
LPA_CNT_CAP = 1 << 20  # max neighbor count per node
LPA_LBL_CAP = 1 << 40  # max label value (labels are node ids)


@scoped
def label_propagation(
    edges: DataFrame,
    src: str,
    dst: str,
    iterations: int = 4,
) -> DataFrame:
    """Synchronous label propagation over the UNDIRECTED graph of
    ``edges``: every node starts with its own id as label; each round it
    adopts the most frequent label among its neighbors (ties -> smallest
    label). Fixed ``iterations`` (sync LPA has no guaranteed fixpoint —
    bipartite regions can oscillate — so the round count is part of the
    result's definition), fully deterministic: the argmax is ONE integer
    MIN over ``(CNT_CAP - cnt) * LBL_CAP + label`` encodings.

    Returns ``(node, community)``.

    Scale shape: per round ONE hash join (labels x edges, both on the
    node key) + two chained aggregations on (node, label) then (node) —
    map-side partials on both; lineage cut per round with lazy
    ``localCheckpoint``. Same cost model as :func:`pagerank`; the
    recursion is oracle-replayable (:func:`label_propagation_sql`).
    """
    # hash-partitioned on the per-round join key and cached: each
    # round's labels frame leaves its aggregation already partitioned
    # the same way, so the labels x edges join runs exchange-free every
    # round (same pattern as pagerank's degree-prejoined edge frame).
    und = persist(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .unionByName(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
        .repartition("u")
    )
    # enforce the encoding caps LOUDLY: labels are node ids (the only
    # values propagation can ever produce) and cnt is bounded by degree,
    # so one guard on the initial ids + per-round cnt covers everything.
    # Violations (e.g. 64-bit hash-derived ids) would otherwise bleed
    # label bits into the count field and silently corrupt the argmax.
    id_guard = F.when(
        (F.col("u").cast("long") < 0) | (F.col("u").cast("long") >= LPA_LBL_CAP),
        F.raise_error(
            F.lit(
                f"label_propagation: node ids must be in [0, {LPA_LBL_CAP}) "
                "for the integer argmax encoding — remap ids first"
            )
        ).cast("long"),
    ).otherwise(F.col("u").cast("long"))
    labels = und.select("u").distinct().select("u", id_guard.alias("label"))
    from ..session import loop_shuffle_partitions, restored_conf

    spark = edges.sparkSession
    # per-round shuffles sized by edge volume; loop executes inside the
    # pinned-conf window via the eager last-round cut (r12 — same
    # treatment as pagerank; see session.loop_shuffle_partitions)
    n_edges = und.count()
    with restored_conf(spark, "spark.sql.shuffle.partitions"):
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(loop_shuffle_partitions(spark, n_edges)),
        )
        for rnd in range(iterations):
            counted = (
                labels.join(und, "u")
                .groupBy(F.col("v"), F.col("label"))
                .agg(F.count(F.lit(1)).alias("cnt"))
            )
            cnt_guard = F.when(
                F.col("cnt") >= LPA_CNT_CAP,
                F.raise_error(
                    F.lit(
                        f"label_propagation: node degree exceeds {LPA_CNT_CAP} "
                        "(LPA_CNT_CAP) — the argmax encoding would overflow"
                    )
                ).cast("long"),
            ).otherwise(F.col("cnt"))
            enc = (F.lit(LPA_CNT_CAP) - cnt_guard) * F.lit(LPA_LBL_CAP) + F.col("label")
            labels = (
                counted.groupBy("v")
                .agg(F.min(enc).alias("_m"))
                .select(
                    F.col("v").alias("u"),
                    (F.col("_m") % F.lit(LPA_LBL_CAP)).cast("long").alias("label"),
                )
                .localCheckpoint(eager=rnd == iterations - 1)
            )
    return labels.select(F.col("u").alias("node"), F.col("label").alias("community"))


def label_propagation_sql(
    edges_query: str, src: str, dst: str, iterations: int = 4
) -> str:
    """DuckDB twin of :func:`label_propagation` with the fixed round
    count UNROLLED as a plain CTE chain (lpa_0 .. lpa_<iterations>,
    final alias ``lpa_final``) — identical integer argmax encoding per
    round. Unrolled rather than recursive: a grouped double-aggregation
    in a recursive term is outside the SQL standard, and DuckDB's
    evaluation of that shape was observed to diverge from the working-
    table semantics on oscillating graphs (same pattern as the k-means
    oracle, which unrolls Lloyd rounds for the same reason)."""
    parts = [
        f"""und AS (
      SELECT {src} AS u, {dst} AS v FROM ({edges_query})
      UNION
      SELECT {dst} AS u, {src} AS v FROM ({edges_query})
    ),
    lpa_0 AS (SELECT u, CAST(u AS BIGINT) AS label FROM (SELECT DISTINCT u FROM und))"""
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f"""lpa_{i} AS (
      SELECT v AS u, CAST(m % {LPA_LBL_CAP} AS BIGINT) AS label
      FROM (
        SELECT v, MIN(({LPA_CNT_CAP} - cnt) * {LPA_LBL_CAP} + label) AS m
        FROM (
          SELECT e.v, p.label, COUNT(*) AS cnt
          FROM lpa_{i - 1} p JOIN und e ON p.u = e.u
          GROUP BY 1, 2
        )
        GROUP BY 1
      )
    )"""
        )
    parts.append(f"lpa_final AS (SELECT u, label FROM lpa_{iterations})")
    return ",\n    ".join(parts)

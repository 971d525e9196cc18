"""Repetition-based quality filtering and benchmark decontamination.

Beyond-reference scope (BASELINE.json north star): the two corpus-hygiene
passes every pretraining pipeline runs between raw text and training
shards.

**Repetition filters** (the Gopher rules, arXiv:2112.11446 Table A1,
re-expressed for documents without line structure): a document is
low-quality when a large share of its n-grams are repeats, or when one
n-gram dominates the text. Signals:

- ``dup_ngram_frac(n)`` = 1 - distinct-n-grams / total-n-grams — computed
  entirely with array higher-order functions (``shingles`` +
  ``array_distinct``), a pure per-row projection: no shuffle, codegen'd,
  embarrassingly parallel at 100 TB.
- ``top_ngram_stats`` = the modal n-gram and the fraction of n-gram slots
  it occupies. Needs a per-document mode, which no HOF computes — one
  explode + groupBy(doc, gram) with map-side partials, then a window pick.
  Shuffle volume is bounded by distinct (doc, gram) pairs, not corpus
  bytes.

**Decontamination** (the GPT-3 appendix-C recipe): drop/flag training
documents sharing k-gram overlap with an evaluation benchmark. The eval
side is small by construction (benchmarks are thousands of prompts, not
terabytes), so its distinct k-gram hash set broadcasts; the corpus side
is ``explode(array_distinct(shingles))`` → broadcast-hash-join → one
groupBy(doc) — the corpus is never shuffled on anything wider than
doc_id, and the join adds no exchange. k-grams are compared by the
portable 32-bit md5 recipe (`token_hash32`), identical in the DuckDB
oracles, so both engines see the same (rare) collisions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import (
    shingles,
    shingles_sql,
    token_hash32,
    token_hash32_sql,
    tokens,
    tokens_sql,
)
from ._cache import persist, scoped

# ---------------------------------------------------------------------------
# Projection-only repetition signals (no shuffle)
# ---------------------------------------------------------------------------


def dup_ngram_frac(tok: Column, n: int) -> Column:
    """Fraction of n-gram slots occupied by repeated n-grams:
    ``1 - distinct/total`` as a single division of exact ints (bit-identical
    across engines); 0.0 for documents with no n-grams."""
    sh = shingles(tok, n)
    total = F.size(sh)
    uniq = F.size(F.array_distinct(sh))
    return F.when(total > 0, (total - uniq).cast("double") / total).otherwise(F.lit(0.0))


def dup_ngram_frac_sql(tok: str, n: int) -> str:
    sh = shingles_sql(tok, n)
    return (
        f"(SELECT CASE WHEN len(s) > 0 THEN "
        f"CAST(len(s) - len(list_distinct(s)) AS DOUBLE) / len(s) "
        f"ELSE 0.0 END FROM (SELECT {sh} AS s))"
    )


def repetition_columns(text_col: Column, tok: Column | None = None) -> dict[str, Column]:
    """The projection-only repetition signals (see module docstring)."""
    if tok is None:
        tok = tokens(text_col)
    return {
        "n_tokens": F.size(tok).cast("long"),
        "dup_bigram_frac": dup_ngram_frac(tok, 2),
        "dup_5gram_frac": dup_ngram_frac(tok, 5),
    }


def repetition_sql(text_col: str) -> dict[str, str]:
    tok = tokens_sql(text_col)
    return {
        "n_tokens": f"CAST(len({tok}) AS BIGINT)",
        "dup_bigram_frac": dup_ngram_frac_sql(tok, 2),
        "dup_5gram_frac": dup_ngram_frac_sql(tok, 5),
    }


# ---------------------------------------------------------------------------
# Modal n-gram (explode + groupBy + window pick)
# ---------------------------------------------------------------------------


def top_ngram_stats(
    df: DataFrame, id_col: str, text_col: str, n: int = 2
) -> DataFrame:
    """Per-document modal n-gram: ``(id, top_ngram, top_ngram_count,
    top_ngram_frac)``. Ties broken by lexicographic n-gram; documents with
    no n-grams keep a NULL gram and frac 0.0 (left join from the doc
    spine, so no document silently disappears).

    Scale shape: explode → partial-agg'd groupBy(id, gram) → window over
    id. Both exchanges hash on id (the window reuses the groupBy's
    partitioning via AQE), and the explode never leaves the map side
    un-combined.
    """
    from pyspark.sql import Window

    spine = df.select(F.col(id_col), F.size(shingles(tokens(F.col(text_col)), n)).alias("_total"))
    grams = df.select(
        F.col(id_col),
        F.explode(shingles(tokens(F.col(text_col)), n)).alias("_gram"),
    )
    counts = grams.groupBy(id_col, "_gram").agg(F.count("*").alias("_cnt"))
    w = Window.partitionBy(id_col).orderBy(F.col("_cnt").desc(), F.col("_gram"))
    top = counts.withColumn("_rk", F.row_number().over(w)).filter(F.col("_rk") == 1)
    return (
        spine.join(top, id_col, "left")
        .select(
            F.col(id_col),
            F.col("_gram").alias("top_ngram"),
            F.coalesce(F.col("_cnt"), F.lit(0)).cast("long").alias("top_ngram_count"),
            F.when(
                F.col("_total") > 0,
                F.coalesce(F.col("_cnt"), F.lit(0)).cast("double") / F.col("_total"),
            )
            .otherwise(F.lit(0.0))
            .alias("top_ngram_frac"),
        )
    )


def top_ngram_stats_sql(table: str, id_col: str, text_col: str, n: int = 2) -> str:
    """DuckDB twin of `top_ngram_stats` (same tie-break, same guards)."""
    sh = shingles_sql(tokens_sql(text_col), n)
    return f"""
    spine AS (SELECT {id_col}, len({sh}) AS _total FROM {table}),
    grams AS (SELECT {id_col}, unnest({sh}) AS _gram FROM {table}),
    counts AS (SELECT {id_col}, _gram, COUNT(*) AS _cnt FROM grams GROUP BY 1, 2),
    top AS (SELECT {id_col}, _gram, _cnt,
                   row_number() OVER (PARTITION BY {id_col}
                                      ORDER BY _cnt DESC, _gram) AS _rk
            FROM counts QUALIFY _rk = 1),
    top_ngrams AS (
      SELECT spine.{id_col},
             top._gram AS top_ngram,
             CAST(COALESCE(top._cnt, 0) AS BIGINT) AS top_ngram_count,
             CASE WHEN spine._total > 0
                  THEN CAST(COALESCE(top._cnt, 0) AS DOUBLE) / spine._total
                  ELSE 0.0 END AS top_ngram_frac
      FROM spine LEFT JOIN top USING ({id_col}))"""


# ---------------------------------------------------------------------------
# Benchmark decontamination
# ---------------------------------------------------------------------------


@scoped
def decontaminate(
    corpus: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    min_overlap_frac: float = 0.2,
    broadcast_max_grams: int = 2_000_000,
) -> DataFrame:
    """Flag corpus documents whose k-gram sets overlap an evaluation
    benchmark: ``(id, n_shingles, n_overlap, overlap_frac, contaminated)``.

    The eval k-gram hash set is broadcast only when VERIFIABLY small —
    it is persisted, counted, and broadcast iff the distinct-gram count
    is <= ``broadcast_max_grams`` (~16 MB of BIGINT hashes at the
    default). Past the bound the plan degrades to one shuffle of the
    exploded corpus k-grams (AQE-decided join) — still O(corpus), never
    O(corpus x eval). Same count-gate pattern as ``minhash_lsh_pairs``'s
    verify stage; an unconditional broadcast here would ship an
    arbitrarily large set to every executor when a caller passes a
    corpus-sized "eval" side. Set ``broadcast_max_grams=0`` to force the
    shuffle path.
    """
    from pyspark import StorageLevel

    ev_cached = persist(
        eval_df.select(
            F.explode(F.array_distinct(shingles(tokens(F.col(text_col)), k))).alias("_s")
        )
        .select(token_hash32(F.col("_s")).alias("_h"))
        .distinct(),
        level=StorageLevel.MEMORY_AND_DISK,
    )
    ev = ev_cached
    if ev_cached.count() <= broadcast_max_grams:
        ev = F.broadcast(ev_cached)
    # materialize the token array before the shingle HOF (interpreted
    # lambdas re-evaluate inline sub-expressions per element — the
    # doc_shingles lesson) and fan the narrow corpus projection out:
    # tokenize+shingle+hash is scan-stage work that otherwise runs
    # single-task on small inputs (r12; no-op at scale)
    from ..sources.files import fan_out_scan

    corp = (
        fan_out_scan(corpus.select(F.col(id_col), F.col(text_col)), id_col)
        .select(F.col(id_col), tokens(F.col(text_col)).alias("_tok"))
        .select(
            F.col(id_col),
            F.explode(F.array_distinct(shingles(F.col("_tok"), k))).alias("_s"),
        )
        .select(F.col(id_col), token_hash32(F.col("_s")).alias("_h"))
    )
    joined = corp.join(ev.withColumn("_hit", F.lit(1)), "_h", "left")
    spine = corpus.select(F.col(id_col))
    agg = joined.groupBy(id_col).agg(
        F.count("*").alias("n_shingles"),
        F.coalesce(F.sum("_hit"), F.lit(0)).alias("n_overlap"),
    )
    out = spine.join(agg, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("n_shingles"), F.lit(0)).cast("long").alias("n_shingles"),
        F.coalesce(F.col("n_overlap"), F.lit(0)).cast("long").alias("n_overlap"),
        F.when(
            F.coalesce(F.col("n_shingles"), F.lit(0)) > 0,
            F.coalesce(F.col("n_overlap"), F.lit(0)).cast("double") / F.col("n_shingles"),
        )
        .otherwise(F.lit(0.0))
        .alias("overlap_frac"),
    )
    return out.withColumn(
        "contaminated", F.col("overlap_frac") >= F.lit(min_overlap_frac)
    )


def decontaminate_sql(
    corpus_cte: str,
    eval_cte: str,
    id_col: str,
    text_col: str,
    k: int = 5,
    min_overlap_frac: float = 0.2,
) -> str:
    """DuckDB twin: same distinct-per-doc k-gram hashes, same guards.
    ``corpus_cte`` / ``eval_cte`` name previously-defined CTEs/tables."""
    sh = shingles_sql(tokens_sql(text_col), k)
    h = token_hash32_sql("_s")
    return f"""
    ev AS (SELECT DISTINCT {h} AS _h
           FROM (SELECT unnest(list_distinct({sh})) AS _s FROM {eval_cte})),
    corp AS (SELECT {id_col}, {h} AS _h
             FROM (SELECT {id_col}, unnest(list_distinct({sh})) AS _s
                   FROM {corpus_cte})),
    agg AS (SELECT corp.{id_col},
                   COUNT(*) AS n_shingles,
                   COALESCE(SUM(CASE WHEN ev._h IS NOT NULL THEN 1 END), 0) AS n_overlap
            FROM corp LEFT JOIN ev USING (_h) GROUP BY 1),
    decontam AS (
      SELECT c.{id_col},
             CAST(COALESCE(agg.n_shingles, 0) AS BIGINT) AS n_shingles,
             CAST(COALESCE(agg.n_overlap, 0) AS BIGINT) AS n_overlap,
             CASE WHEN COALESCE(agg.n_shingles, 0) > 0
                  THEN CAST(COALESCE(agg.n_overlap, 0) AS DOUBLE) / agg.n_shingles
                  ELSE 0.0 END AS overlap_frac,
             (CASE WHEN COALESCE(agg.n_shingles, 0) > 0
                   THEN CAST(COALESCE(agg.n_overlap, 0) AS DOUBLE) / agg.n_shingles
                   ELSE 0.0 END) >= {min_overlap_frac} AS contaminated
      FROM {corpus_cte} c LEFT JOIN agg USING ({id_col}))"""


# ---------------------------------------------------------------------------
# Corpus unigram-LM scoring (the CCNet-style statistical quality signal)
# ---------------------------------------------------------------------------


@scoped
def unigram_logprob(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document mean negative log2-probability under the corpus's own
    unigram language model — the cheap statistical stand-in for the
    KenLM-perplexity quality signal (CCNet, arXiv:1911.00359): documents
    of improbable tokens score high, boilerplate scores low.

    Returns ``(id, n_tokens, nll_bits)`` where
    ``nll_bits = -(1/n) * sum log2(cnt(token)/T) = log2(T) - (1/n) * sum
    log2(cnt)`` with T = corpus token total.

    Cross-engine determinism: the per-token ``log2(cnt)`` terms are
    fixed-pointed to nano-bits (``ROUND(log2(cnt) * 1e9)`` as BIGINT) on
    the *vocabulary* table (one row per distinct token), so the per-doc
    aggregation is an exact integer SUM — no accumulation-order noise.
    The only double ops are one log2 per vocab entry, one log2(T), and
    the final divide, all rounded to 6 dp.

    Scale shape: explode -> vocab groupBy (shuffle on token, map-side
    partials) -> occ x vocab join (AQE broadcasts the vocab when it
    fits — natural-language vocabularies are tiny next to the corpus)
    -> one groupBy(doc). The corpus is never shuffled on anything wider
    than (token | doc id); T rides a 1-row broadcast cross join.
    """
    from ..sources.files import fan_out_scan

    # occ feeds BOTH the vocab build and the per-doc join — fan the
    # tokenize/explode out of the single-task scan stage and persist it
    # so the explode runs once (r12; size-gated r13)
    occ = persist(
        fan_out_scan(df.select(F.col(id_col), F.col(text_col)), id_col).select(
            F.col(id_col), F.explode(tokens(F.col(text_col))).alias("_tok")
        ),
        source=df,
    )
    vocab = occ.groupBy("_tok").agg(F.count(F.lit(1)).alias("_cnt"))
    vocab = vocab.select(
        "_tok",
        "_cnt",
        F.round(F.log2("_cnt") * F.lit(1e9)).cast("long").alias("_lp9"),
    )
    total = vocab.agg(F.sum("_cnt").cast("double").alias("_T"))
    per_doc = (
        occ.join(vocab.select("_tok", "_lp9"), "_tok")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_tokens"), F.sum("_lp9").alias("_s9"))
    )
    return (
        df.select(F.col(id_col))
        .join(per_doc, id_col, "left")
        .crossJoin(F.broadcast(total))
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long").alias("n_tokens"),
            F.when(
                F.coalesce(F.col("n_tokens"), F.lit(0)) > 0,
                F.round(
                    F.log2("_T") - (F.col("_s9") / F.lit(1e9)) / F.col("n_tokens"), 6
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("nll_bits"),
        )
    )


@scoped
def bigram_logprob(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document mean negative log2 CONDITIONAL probability under the
    corpus's own bigram model — the next step up from
    :func:`unigram_logprob` toward the KenLM-perplexity signal:
    ``nll2_bits = -(1/m) * sum log2(cnt(w1 w2) / cnt(w1 ·))`` over the
    doc's m adjacent token pairs. Repetitive/boilerplate text (whose
    transitions are corpus-common) scores low; incoherent token salad
    scores high even when its unigrams are common.

    Determinism: per-bigram ``log2(c2) - log2(c1)`` terms are
    fixed-pointed to nano-bits on the bigram VOCAB table, so the
    per-doc aggregation is an exact integer SUM (same discipline as
    the unigram op). The denominator count ``cnt(w1 ·)`` is derived
    from the bigram table itself (sum over w2), not the raw token
    count — exactly the conditional-model normalizer.

    Scale shape: explode to (doc, w1, w2) -> bigram groupBy (token-pair
    shuffle, map-side partials) -> w1 rollup -> occ x vocab join (AQE
    broadcasts natural-language vocabs) -> one groupBy(doc). Docs with
    < 2 tokens emit m = 0, score 0.
    """
    from ..sources.files import fan_out_scan

    t = tokens(F.col(text_col))
    # occ2 feeds BOTH the bigram-vocab build and the per-doc join — fan
    # the tokenize/pair-explode out of the single-task scan stage and
    # persist it so the explode runs once (r12; size-gated r13)
    occ2 = persist((
        fan_out_scan(df.select(F.col(id_col), F.col(text_col)), id_col)
        .select(F.col(id_col), t.alias("_t"))
        .filter(F.size("_t") >= 2)
        .select(
            F.col(id_col),
            F.explode(
                F.arrays_zip(
                    F.slice(F.col("_t"), 1, F.size("_t") - 1).alias("w1"),
                    F.slice(F.col("_t"), 2, F.size("_t") - 1).alias("w2"),
                )
            ).alias("_p"),
        )
        .select(F.col(id_col), F.col("_p.w1").alias("_w1"), F.col("_p.w2").alias("_w2"))
    ), source=df)
    v2 = occ2.groupBy("_w1", "_w2").agg(F.count(F.lit(1)).alias("_c2"))
    v1 = v2.groupBy("_w1").agg(F.sum("_c2").alias("_c1"))
    vlp = v2.join(v1, "_w1").select(
        "_w1",
        "_w2",
        F.round((F.log2("_c2") - F.log2("_c1")) * F.lit(1e9)).cast("long").alias("_lp9"),
    )
    per_doc = (
        occ2.join(vlp, ["_w1", "_w2"])
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_bigrams"), F.sum("_lp9").alias("_s9"))
    )
    return (
        df.select(F.col(id_col))
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("long").alias("n_bigrams"),
            F.when(
                F.coalesce(F.col("n_bigrams"), F.lit(0)) > 0,
                # + 0.0 normalizes IEEE negative zero: _s9 == 0 (every
                # bigram deterministic in its context) negates to -0.0
                # and the engines disagree on its rendered sign
                F.round(-(F.col("_s9") / F.lit(1e9)) / F.col("n_bigrams"), 6)
                + F.lit(0.0),
            )
            .otherwise(F.lit(0.0))
            .alias("nll2_bits"),
        )
    )


def bigram_logprob_sql(corpus_cte: str, id_col: str, text_col: str) -> str:
    """DuckDB twin of :func:`bigram_logprob` — identical fixed-pointing
    and rounding. Emits a ``bigram`` CTE chain; select from ``bigram``."""
    tok = tokens_sql(text_col)
    return f"""
    _bg_tok AS (SELECT {id_col}, {tok} AS t FROM {corpus_cte}),
    _bg_occ AS (SELECT {id_col}, t[CAST(i AS INT)] AS _w1, t[CAST(i + 1 AS INT)] AS _w2
                FROM _bg_tok, LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i) _i
                WHERE len(t) >= 2),
    _bg_v2 AS (SELECT _w1, _w2, COUNT(*) AS _c2 FROM _bg_occ GROUP BY 1, 2),
    _bg_v1 AS (SELECT _w1, CAST(SUM(_c2) AS BIGINT) AS _c1 FROM _bg_v2 GROUP BY 1),
    _bg_vlp AS (SELECT _w1, _w2,
                       CAST(ROUND((log2(_c2) - log2(_c1)) * 1e9) AS BIGINT) AS _lp9
                FROM _bg_v2 JOIN _bg_v1 USING (_w1)),
    _bg_per AS (SELECT o.{id_col}, COUNT(*) AS n_bigrams,
                       CAST(SUM(_lp9) AS BIGINT) AS _s9
                FROM _bg_occ o JOIN _bg_vlp USING (_w1, _w2) GROUP BY 1),
    bigram AS (
      SELECT c.{id_col},
             CAST(COALESCE(p.n_bigrams, 0) AS BIGINT) AS n_bigrams,
             CASE WHEN COALESCE(p.n_bigrams, 0) > 0
                  THEN ROUND(-(p._s9 / 1e9) / p.n_bigrams, 6) + CAST(0 AS DOUBLE)
                  ELSE 0.0 END AS nll2_bits
      FROM {corpus_cte} c LEFT JOIN _bg_per p USING ({id_col}))"""


@scoped
def bigram_backoff_logprob(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target_pred: Column,
    alpha: float = 0.4,
) -> DataFrame:
    """Score EVERY document under a bigram LM trained on the TARGET
    subset only (rows where ``target_pred`` is true), with stupid
    backoff (Brants et al., 2007) for transitions the target never saw
    — the CCNet recipe proper: train the LM on trusted text, rank the
    whole crawl by how natural it looks under it. This is the
    target-trained counterpart of :func:`bigram_logprob` (whose model
    is the corpus itself, so every doc bigram is in-vocabulary) and the
    conditional-model upgrade of :func:`dsir_importance`'s unigram
    ratio.

    Per adjacent pair (w1, w2), the -log2 term is the FIRST applicable:

    - seen target bigram:   ``log2 c2(w1,w2) - log2 c1(w1)``
    - backoff to unigram:   ``log2 a + log2 cu(w2) - log2 T2``
    - OOV floor:            ``2 log2 a - log2(T2 + V + 1)``

    where the unigram distribution is the target's CONTINUATION
    distribution (cu(w) = target pairs ending in w, T2 = total target
    pairs, V = distinct continuations) — self-consistent with the
    bigram table, so the whole model derives from ONE pair scan. The
    ``+1`` keeps the floor finite even for an empty target (the score
    degenerates to a constant per pair, never NULL/inf).

    Determinism: every term is fixed-pointed to nano-bits on its vocab
    table (bigram, unigram, 1-row floor), so the per-doc aggregation is
    an exact integer SUM; ``+ 0.0`` normalizes IEEE -0.0 exactly as in
    :func:`bigram_logprob`.

    Scale shape: one pair explode -> target bigram groupBy (pair-key
    shuffle, map-side partials) -> w1 rollup + w2 rollup -> two LEFT
    joins of doc pairs against the vocab tables (AQE broadcasts
    natural-language vocabs) -> one groupBy(doc); totals ride a 1-row
    broadcast. The corpus never shuffles wider than (pair | doc id).

    Output: (id, n_bigrams, n_hit2, n_hit1, nll_bits) — the hit split
    is the auditability hook (how much of this doc the target LM
    actually knew).
    """
    from ..sources.files import fan_out_scan

    t = tokens(F.col(text_col))
    # occ2 feeds the target-bigram build AND the scoring join; tv2
    # feeds THREE consumers (w1 rollup, the lp9 join, the w2 rollup) —
    # fan the pair explode out of the single-task scan stage and
    # persist both so each computes once (r12). Deliberately NOT
    # size-gated (r13): the interleaved persist-on/off A/B measured
    # this family's persists WINNING at sf0.1 (ON 1.554s vs OFF 1.635s
    # — three consumers amortize the cache build), unlike the gated
    # losers; see the _cache module docstring.
    # fanned WITHOUT projecting first: target_pred is caller-supplied
    # and may reference any input column (e.g. source)
    occ2 = persist(
        fan_out_scan(df, id_col)
        .select(F.col(id_col), target_pred.alias("_is_tgt"), t.alias("_t"))
        .filter(F.size("_t") >= 2)
        .select(
            F.col(id_col),
            "_is_tgt",
            F.explode(
                F.arrays_zip(
                    F.slice(F.col("_t"), 1, F.size("_t") - 1).alias("w1"),
                    F.slice(F.col("_t"), 2, F.size("_t") - 1).alias("w2"),
                )
            ).alias("_p"),
        )
        .select(
            F.col(id_col), "_is_tgt",
            F.col("_p.w1").alias("_w1"), F.col("_p.w2").alias("_w2"),
        )
    )
    tv2 = persist(
        occ2.filter(F.col("_is_tgt"))
        .groupBy("_w1", "_w2")
        .agg(F.count(F.lit(1)).alias("_c2"))
    )
    tv1 = tv2.groupBy("_w1").agg(F.sum("_c2").alias("_c1"))
    v2lp = tv2.join(tv1, "_w1").select(
        "_w1", "_w2",
        F.round((F.log2("_c2") - F.log2("_c1")) * F.lit(1e9))
        .cast("long").alias("_lp9"),
    )
    tvu = tv2.groupBy("_w2").agg(F.sum("_c2").alias("_cu"))
    tot = tvu.agg(
        F.coalesce(F.sum("_cu"), F.lit(0)).cast("double").alias("_T2"),
        F.count(F.lit(1)).cast("double").alias("_V"),
    )
    la = F.log2(F.lit(float(alpha)))
    vulp = tvu.crossJoin(F.broadcast(tot)).select(
        "_w2",
        F.round((la + F.log2("_cu") - F.log2("_T2")) * F.lit(1e9))
        .cast("long").alias("_lp9u"),
    )
    floor9 = tot.select(
        F.round(
            (la + la - F.log2(F.col("_T2") + F.col("_V") + F.lit(1.0)))
            * F.lit(1e9)
        )
        .cast("long").alias("_flr9")
    )
    scored = (
        occ2.join(v2lp, ["_w1", "_w2"], "left")
        .join(vulp, "_w2", "left")
        .crossJoin(F.broadcast(floor9))
    )
    per_doc = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum(F.when(F.col("_lp9").isNotNull(), 1).otherwise(0)).alias("n_hit2"),
        F.sum(
            F.when(F.col("_lp9").isNull() & F.col("_lp9u").isNotNull(), 1)
            .otherwise(0)
        ).alias("n_hit1"),
        F.sum(F.coalesce("_lp9", "_lp9u", "_flr9")).alias("_s9"),
    )
    return (
        df.select(F.col(id_col))
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
            F.coalesce("n_hit2", F.lit(0)).cast("long").alias("n_hit2"),
            F.coalesce("n_hit1", F.lit(0)).cast("long").alias("n_hit1"),
            F.when(
                F.coalesce(F.col("n_bigrams"), F.lit(0)) > 0,
                F.round(-(F.col("_s9") / F.lit(1e9)) / F.col("n_bigrams"), 6)
                + F.lit(0.0),
            )
            .otherwise(F.lit(0.0))
            .alias("nll_bits"),
        )
    )


def bigram_backoff_logprob_sql(
    corpus_cte: str,
    id_col: str,
    text_col: str,
    target_pred_sql: str,
    alpha: float = 0.4,
) -> str:
    """DuckDB twin of :func:`bigram_backoff_logprob` — identical model
    derivation, fixed-pointing, coalesce ladder, and -0.0
    normalization. Emits a ``bb`` CTE chain; select from ``bb``.
    ``alpha`` is emitted as CAST(.. AS DOUBLE) so DuckDB's DECIMAL
    literal parsing never enters the arithmetic."""
    tok = tokens_sql(text_col)
    a = f"log2(CAST({alpha!r} AS DOUBLE))"
    return f"""
    bb_tok AS (SELECT {id_col}, {target_pred_sql} AS _is_tgt, {tok} AS t
               FROM {corpus_cte}),
    bb_occ AS (SELECT {id_col}, _is_tgt,
                      t[CAST(i AS INT)] AS _w1, t[CAST(i + 1 AS INT)] AS _w2
               FROM bb_tok,
                    LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i) _i
               WHERE len(t) >= 2),
    bb_v2 AS (SELECT _w1, _w2, COUNT(*) AS _c2 FROM bb_occ
              WHERE _is_tgt GROUP BY 1, 2),
    bb_v1 AS (SELECT _w1, CAST(SUM(_c2) AS BIGINT) AS _c1 FROM bb_v2 GROUP BY 1),
    bb_v2lp AS (SELECT _w1, _w2,
                       CAST(ROUND((log2(_c2) - log2(_c1)) * 1e9) AS BIGINT) AS _lp9
                FROM bb_v2 JOIN bb_v1 USING (_w1)),
    bb_vu AS (SELECT _w2, CAST(SUM(_c2) AS BIGINT) AS _cu FROM bb_v2 GROUP BY 1),
    bb_tot AS (SELECT CAST(COALESCE(SUM(_cu), 0) AS DOUBLE) AS _T2,
                      CAST(COUNT(*) AS DOUBLE) AS _V FROM bb_vu),
    bb_vulp AS (SELECT _w2,
                       CAST(ROUND(({a} + log2(_cu) - log2(_T2)) * 1e9) AS BIGINT) AS _lp9u
                FROM bb_vu CROSS JOIN bb_tot),
    bb_flr AS (SELECT CAST(ROUND(({a} + {a} - log2(_T2 + _V + 1)) * 1e9) AS BIGINT) AS _flr9
               FROM bb_tot),
    bb_per AS (SELECT o.{id_col}, COUNT(*) AS n_bigrams,
                      SUM(CASE WHEN b._lp9 IS NOT NULL THEN 1 ELSE 0 END) AS n_hit2,
                      SUM(CASE WHEN b._lp9 IS NULL AND u._lp9u IS NOT NULL
                               THEN 1 ELSE 0 END) AS n_hit1,
                      CAST(SUM(COALESCE(b._lp9, u._lp9u, f._flr9)) AS BIGINT) AS _s9
               FROM bb_occ o
               LEFT JOIN bb_v2lp b ON o._w1 = b._w1 AND o._w2 = b._w2
               LEFT JOIN bb_vulp u ON o._w2 = u._w2
               CROSS JOIN bb_flr f
               GROUP BY 1),
    bb AS (
      SELECT c.{id_col},
             CAST(COALESCE(p.n_bigrams, 0) AS BIGINT) AS n_bigrams,
             CAST(COALESCE(p.n_hit2, 0) AS BIGINT) AS n_hit2,
             CAST(COALESCE(p.n_hit1, 0) AS BIGINT) AS n_hit1,
             CASE WHEN COALESCE(p.n_bigrams, 0) > 0
                  THEN ROUND(-(p._s9 / 1e9) / p.n_bigrams, 6) + CAST(0 AS DOUBLE)
                  ELSE 0.0 END AS nll_bits
      FROM {corpus_cte} c LEFT JOIN bb_per p USING ({id_col}))"""


def unigram_logprob_sql(corpus_cte: str, id_col: str, text_col: str) -> str:
    """DuckDB twin: identical vocab fixed-pointing (nano-bit BIGINTs),
    identical final rounding. Emits a ``unigram`` CTE chain; select from
    ``unigram``."""
    tok = tokens_sql(text_col)
    return f"""
    occ AS (SELECT {id_col}, unnest({tok}) AS _tok FROM {corpus_cte}),
    vocab AS (SELECT _tok, COUNT(*) AS _cnt,
                     CAST(ROUND(log2(COUNT(*)) * 1e9) AS BIGINT) AS _lp9
              FROM occ GROUP BY 1),
    tot AS (SELECT CAST(SUM(_cnt) AS DOUBLE) AS _T FROM vocab),
    per_doc AS (SELECT occ.{id_col}, COUNT(*) AS n_tokens,
                       CAST(SUM(_lp9) AS BIGINT) AS _s9
                FROM occ JOIN vocab USING (_tok) GROUP BY 1),
    unigram AS (
      SELECT c.{id_col},
             CAST(COALESCE(p.n_tokens, 0) AS BIGINT) AS n_tokens,
             CASE WHEN COALESCE(p.n_tokens, 0) > 0
                  THEN ROUND(log2(tot._T) - (p._s9 / 1e9) / p.n_tokens, 6)
                  ELSE 0.0 END AS nll_bits
      FROM {corpus_cte} c LEFT JOIN per_doc p USING ({id_col}) CROSS JOIN tot)"""


# ---------------------------------------------------------------------------
# Composite quality gate (the keep/drop decision with reasons)
# ---------------------------------------------------------------------------

# (flag-name, bit) in wire order — the bitmask is part of the contract
GATE_RULES = (
    "too_short",      # n_tokens < min_tokens
    "too_long",       # n_tokens > max_tokens
    "low_diversity",  # uniq_ratio < min_uniq_ratio
    "repetitive",     # dup_bigram_frac > max_dup_bigram_frac
)


def quality_gate(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_tokens: int = 20,
    max_tokens: int = 5000,
    min_uniq_ratio: float = 0.35,
    max_dup_bigram_frac: float = 0.40,
) -> DataFrame:
    """The curation keep/drop decision: every document, with per-rule
    boolean flags, a stable ``reason_flags`` bitmask (bit i =
    ``GATE_RULES[i]``), and ``keep`` = no rule fired — the auditable form
    real pipelines need (why was this dropped?), not a bare filter.

    Pure per-row projection over exact-integer signals (token counts,
    single-division ratios): zero shuffle, codegen, scan-bound. Compose
    with ``.filter(F.col('keep'))`` for the destructive form.

    NULL text is treated as empty (``too_short`` fires): without the
    coalesce, every rule comparison evaluates NULL, no flag fires, and a
    null document silently passes the gate — in BOTH engines, so the
    oracle hash can't catch it. A gate must fail closed.
    """
    from ..sources.files import fan_out_scan

    tok = tokens(F.coalesce(F.col(text_col), F.lit("")))
    # the per-rule flags tokenize + sort bigrams per row — scan-stage
    # work that otherwise runs single-task on small inputs (r12; no-op
    # at scale, where the projection stays a zero-shuffle scan)
    base = fan_out_scan(
        df.select(F.col(id_col), F.col(text_col)), id_col
    ).withColumn("_tok", tok)
    n_tokens = F.size("_tok")
    uniq_ratio = F.size(F.array_distinct("_tok")).cast("double") / n_tokens
    dup_bi = dup_ngram_frac(F.col("_tok"), 2)
    flags = {
        "too_short": n_tokens < min_tokens,
        "too_long": n_tokens > max_tokens,
        "low_diversity": (n_tokens > 0) & (uniq_ratio < min_uniq_ratio),
        "repetitive": dup_bi > max_dup_bigram_frac,
    }
    mask = None
    for i, name in enumerate(GATE_RULES):
        bit = F.when(flags[name], F.lit(1 << i)).otherwise(F.lit(0))
        mask = bit if mask is None else mask + bit
    return base.select(
        F.col(id_col),
        n_tokens.cast("long").alias("n_tokens"),
        *[flags[name].alias(name) for name in GATE_RULES],
        mask.cast("long").alias("reason_flags"),
        (mask == 0).alias("keep"),
    )


def quality_gate_sql(
    table: str,
    id_col: str,
    text_col: str,
    min_tokens: int = 20,
    max_tokens: int = 5000,
    min_uniq_ratio: float = 0.35,
    max_dup_bigram_frac: float = 0.40,
) -> str:
    """DuckDB twin: same rules, same bit order, same constants, same
    NULL-as-empty fail-closed coalesce."""
    tok = tokens_sql(f"COALESCE({text_col}, '')")
    flags = {
        "too_short": f"len(_tok) < {min_tokens}",
        "too_long": f"len(_tok) > {max_tokens}",
        "low_diversity": (
            f"(len(_tok) > 0 AND CAST(len(list_distinct(_tok)) AS DOUBLE) / len(_tok) < {min_uniq_ratio})"
        ),
        "repetitive": f"{dup_ngram_frac_sql('_tok', 2)} > {max_dup_bigram_frac}",
    }
    mask = " + ".join(
        f"(CASE WHEN {flags[name]} THEN {1 << i} ELSE 0 END)"
        for i, name in enumerate(GATE_RULES)
    )
    flag_cols = ", ".join(f"{expr} AS {name}" for name, expr in flags.items())
    return f"""
    SELECT {id_col},
           CAST(len(_tok) AS BIGINT) AS n_tokens,
           {flag_cols},
           CAST({mask} AS BIGINT) AS reason_flags,
           ({mask}) = 0 AS keep
    FROM (SELECT {id_col}, {tok} AS _tok FROM {table})
    """


# ---------------------------------------------------------------------------
# DSIR-style importance weighting (target-vs-corpus likelihood ratio)
# ---------------------------------------------------------------------------


def dsir_importance(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target_pred: Column,
) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al., 2023),
    unigram form: score every document by the log-likelihood ratio of
    its tokens under a TARGET distribution (rows where ``target_pred``
    is true — e.g. a trusted domain) versus the full corpus. High
    scores = "looks like the target"; resample the corpus by this
    weight to shift its distribution toward the target without a
    trained classifier.

    ``lr9_sum = sum over tokens of round((log2 p_target(t) -
    log2 p_corpus(t)) * 1e9)`` with add-1 smoothing on the target side
    (tokens unseen in the target stay finite). The per-token terms are
    fixed-pointed to nano-bits on the VOCABULARY (one row per distinct
    token), so the per-doc aggregation is an exact integer SUM —
    deterministic in any engine and accumulation order.

    Scale shape: ONE conditional-aggregate groupBy(token) builds both
    distributions in a single pass (no second corpus scan), the scalar
    totals ride a 1-row broadcast, and the occ x vocab join is
    AQE-broadcastable (vocab << corpus). The corpus is never shuffled
    wider than (token | doc id).

    Output: (id, n_tokens, lr9_sum, selected) — ``selected`` is the
    zero-threshold decision; real pipelines feed ``lr9_sum`` into
    weighted sampling (:func:`..sampling.weighted_topk`) instead.
    """
    occ = df.select(
        F.col(id_col),
        target_pred.alias("_is_tgt"),
        F.explode(tokens(F.col(text_col))).alias("_tok"),
    )
    vocab = occ.groupBy("_tok").agg(
        F.count(F.lit(1)).alias("_cnt_all"),
        F.sum(F.when(F.col("_is_tgt"), 1).otherwise(0)).alias("_cnt_tgt"),
    )
    tot = vocab.agg(
        F.sum("_cnt_all").cast("double").alias("_T_all"),
        F.sum("_cnt_tgt").cast("double").alias("_T_tgt"),
        F.count(F.lit(1)).cast("double").alias("_V"),
    )
    # lr9(t) = round((log2((cnt_tgt+1)/(T_tgt+V)) - log2(cnt_all/T_all)) * 1e9)
    vocab9 = vocab.crossJoin(F.broadcast(tot)).select(
        "_tok",
        F.round(
            (
                F.log2(F.col("_cnt_tgt") + F.lit(1))
                - F.log2(F.col("_T_tgt") + F.col("_V"))
                - F.log2("_cnt_all")
                + F.log2("_T_all")
            )
            * F.lit(1e9)
        )
        .cast("long")
        .alias("_lr9"),
    )
    per_doc = (
        occ.join(vocab9, "_tok")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_tokens"), F.sum("_lr9").alias("lr9_sum"))
    )
    return (
        df.select(F.col(id_col))
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("lr9_sum", F.lit(0)).cast("long").alias("lr9_sum"),
        )
        .withColumn("selected", F.col("lr9_sum") > F.lit(0))
    )


def dsir_importance_sql(
    corpus_cte: str, id_col: str, text_col: str, target_pred_sql: str
) -> str:
    """CTE chain ending in `dsir` mirroring :func:`dsir_importance` —
    identical smoothing, identical nano-bit fixed-pointing."""
    tok = tokens_sql(text_col)
    # CTE names carry a dsir_ prefix so the chain composes with other
    # builders (boilerplate/unigram use per_doc/occ/vocab too)
    return f"""
    dsir_occ AS (SELECT {id_col}, {target_pred_sql} AS _is_tgt, unnest({tok}) AS _tok
            FROM {corpus_cte}),
    dsir_vocab AS (SELECT _tok, COUNT(*) AS _cnt_all,
                     SUM(CASE WHEN _is_tgt THEN 1 ELSE 0 END) AS _cnt_tgt
              FROM dsir_occ GROUP BY 1),
    dsir_tot AS (SELECT CAST(SUM(_cnt_all) AS DOUBLE) AS _T_all,
                   CAST(SUM(_cnt_tgt) AS DOUBLE) AS _T_tgt,
                   CAST(COUNT(*) AS DOUBLE) AS _V FROM dsir_vocab),
    dsir_vocab9 AS (SELECT _tok,
                      CAST(ROUND((log2(_cnt_tgt + 1) - log2(_T_tgt + _V)
                                  - log2(_cnt_all) + log2(_T_all)) * 1e9) AS BIGINT) AS _lr9
               FROM dsir_vocab CROSS JOIN dsir_tot),
    dsir_per_doc AS (SELECT dsir_occ.{id_col}, COUNT(*) AS n_tokens,
                       CAST(SUM(_lr9) AS BIGINT) AS lr9_sum
                FROM dsir_occ JOIN dsir_vocab9 USING (_tok) GROUP BY 1),
    dsir AS (
      SELECT c.{id_col},
             CAST(COALESCE(p.n_tokens, 0) AS BIGINT) AS n_tokens,
             CAST(COALESCE(p.lr9_sum, 0) AS BIGINT) AS lr9_sum,
             COALESCE(p.lr9_sum, 0) > 0 AS selected
      FROM {corpus_cte} c LEFT JOIN dsir_per_doc p USING ({id_col}))"""
